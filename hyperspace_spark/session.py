"""Session-level enable: an enabled session's queries reach the index
planner with no explicit ``hs.apply()``.

The reference injects one Catalyst rule into the session
(package.scala:40-93) and turns it off with one ThreadLocal while its
own index work runs (ApplyHyperspace.scala:43-47,68-75).  Python cannot
register Catalyst rules, so the same surface here is three things:

- one guard, ``internal()``: a thread-local flag the engine holds while
  it plans, builds or searches, so the frames it runs are never planned
  as user queries;
- one helper, ``routed(df, hs)``: the frame an enabled session executes
  for ``df``;
- one patch table, ``_PATCHED``: every class attribute replaced while a
  session routes DataFrame actions, restored by one loop.

``spark.sql`` and ``spark.newSession`` are instance patches on the
enabled session.  DataStreamWriter is patched for index maintenance,
not acceleration: streaming plans run unrewritten, but a file sink
under an active index's source root is enrolled for automatic
incremental refresh (streaming/refresh.py).
"""

from __future__ import annotations

import contextlib
import functools
import threading
import weakref

from hyperspace_spark.streaming.refresh import (
    indexes_rooted_at,
    register_auto_maintenance,
    unregister_session,
)
from hyperspace_spark.telemetry import HyperspaceEvent, emit

# Session -> the Hyperspace that routes its DataFrame actions.
_ROUTES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_GUARD = threading.local()
# (class, attribute name) -> the attribute the routing replaced; the lock
# keeps a second install from saving a wrapper as the original.
_PATCHED: dict = {}
_PATCH_LOCK = threading.Lock()


@contextlib.contextmanager
def internal():
    """Hold the guard: inside, every frame executes as built."""
    prev = getattr(_GUARD, "active", False)
    _GUARD.active = True
    try:
        yield
    finally:
        _GUARD.active = prev


def routed(df, hs=None):
    """The frame to execute for ``df``: ``hs.apply(df)``, where ``hs``
    defaults to the Hyperspace routing ``df``'s session.  ``df`` itself
    when the session is not routed, the guard is held, or ``df`` is
    already a rewrite."""
    if getattr(_GUARD, "active", False) or getattr(df, "_hs_no_reroute", False):
        return df
    if hs is None:
        hs = _ROUTES.get(df.sparkSession)
    return df if hs is None else hs.apply(df)


def enable(hs, dataframe_api: bool = True) -> None:
    """``Hyperspace.enable`` (documented there)."""
    spark = hs.spark

    def child_session(orig):
        def new_session():
            child = orig()
            type(hs)(child, system_path=hs._system_path).enable(dataframe_api=dataframe_api)
            return child

        return new_session

    # What was there before the first enable (a bound class method or a
    # third-party wrapper) is saved once and wrapped again on every
    # enable: re-enabling never stacks, and the latest instance wins.
    for name, wrap in (
        ("sql", lambda orig: lambda *args, **kwargs: routed(orig(*args, **kwargs), hs)),
        ("newSession", child_session),
    ):
        if getattr(spark, f"_hs_original_{name}", None) is None:
            setattr(spark, f"_hs_original_{name}", getattr(spark, name))
        setattr(spark, name, wrap(getattr(spark, f"_hs_original_{name}")))
    if dataframe_api:
        with _PATCH_LOCK:
            _ROUTES[spark] = hs
            if not _PATCHED:
                for (cls, name), wrap in _wrappers().items():
                    _PATCHED[cls, name] = cls.__dict__[name]
                    setattr(cls, name, wrap(cls.__dict__[name]))
    else:
        # An explicit opt-out wins over an earlier opt-in on this session.
        _unroute(spark)


def disable(spark) -> None:
    """``Hyperspace.disable`` (documented there)."""
    _unroute(spark)
    unregister_session(spark)
    for name in ("newSession", "sql"):
        saved = getattr(spark, f"_hs_original_{name}", None)
        if saved is None:
            continue
        bound = getattr(saved, "__self__", None) is spark
        if bound and getattr(saved, "__func__", None) is getattr(type(spark), name):
            spark.__dict__.pop(name, None)  # the bound class method: un-shadow it
        else:
            setattr(spark, name, saved)  # a third-party wrapper: reinstall it
        setattr(spark, f"_hs_original_{name}", None)


def is_enabled(spark) -> bool:
    return getattr(spark, "_hs_original_sql", None) is not None


def _unroute(spark) -> None:
    with _PATCH_LOCK:
        _ROUTES.pop(spark, None)
        if not _ROUTES:  # the last routed session: restore the pristine classes
            for (cls, name), orig in _PATCHED.items():
                setattr(cls, name, orig)
            _PATCHED.clear()


def _df_impl_class():
    """The concrete DataFrame class: ``pyspark.sql.DataFrame`` is an
    abstract facade whose classic subclass overrides every action."""
    from pyspark.sql.classic.dataframe import DataFrame

    return DataFrame


def _stream_writer_class():
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    return DataStreamWriter


def _wrappers() -> dict:
    """(class, attribute name) -> wrapper factory over the original."""
    frame, writer = _df_impl_class(), _stream_writer_class()
    # collect() also carries take/head/first/toLocalIterator.
    table = {(frame, name): _action for name in ("collect", "count", "show", "toPandas")}
    table.update({(frame, "write"): _write, (frame, "rdd"): _rdd, (writer, "start"): _start})
    table.update({(writer, "option"): _sink_option, (writer, "options"): _sink_options})
    return table


def _action(orig):
    @functools.wraps(orig)
    def action(self, *args, **kwargs):
        return orig(routed(self), *args, **kwargs)

    return action


def _write(orig):
    return property(lambda self: orig.__get__(routed(self)), doc=orig.__doc__)


def _rdd(orig):
    # ``rdd`` is a cached_property since Spark 4.  The wrapper is a data
    # descriptor, so the stock cache never shadows it: an unrouted frame
    # goes through the stock descriptor (and its cache), a routed one
    # keeps its rewrite's RDD, so ``df.rdd is df.rdd`` either way.
    def rdd(self):
        out = self.__dict__.get("_hs_routed_rdd")
        if out is None:
            df = routed(self)
            if df is self:
                return orig.__get__(self)
            out = self.__dict__["_hs_routed_rdd"] = orig.__get__(df)
        return out

    return property(rdd, doc=orig.__doc__)


def _sink_option(orig):
    @functools.wraps(orig)
    def option(self, key, value):
        if isinstance(key, str) and key.lower() == "path":
            self._hs_sink_path = value
        return orig(self, key, value)

    return option


def _sink_options(orig):
    @functools.wraps(orig)
    def options(self, **opts):
        for key, value in opts.items():
            if key.lower() == "path":
                self._hs_sink_path = value
        return orig(self, **opts)

    return options


def _start(orig):
    @functools.wraps(orig)
    def start(self, path=None, *args, **kwargs):
        query = orig(self, path, *args, **kwargs)
        try:
            spark = self._df.sparkSession
            hs, sink = _ROUTES.get(spark), path or getattr(self, "_hs_sink_path", None)
            if hs is not None and sink:
                names = indexes_rooted_at(hs, sink)
                if names:
                    register_auto_maintenance(spark, query, hs, names)
                    emit(HyperspaceEvent(kind="stream_maintenance", detail=",".join(sorted(names))))
        except Exception:
            pass  # maintenance enrolment must never break the stream
        return query

    return start
