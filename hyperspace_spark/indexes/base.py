"""Index config interfaces (reference: index/Index.scala:22-168,
IndexConfigTrait.scala:46-59)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class IndexConfig:
    name: str

    @property
    def kind(self) -> str:
        raise NotImplementedError

    def referenced_columns(self) -> list[str]:
        raise NotImplementedError


# Frames memoized per index version; more distinct bucket-file subsets
# than this are read afresh (an IN list over many keys mints new ones).
_MAX_VERSION_FRAMES = 256


def version_slot(cache: dict | None, entry) -> dict | None:
    """The memo of frames built from ``entry``'s index data, or None when
    there is nothing to key it on.

    ``cache`` maps index name -> (content fingerprint, slot).  A version's
    data directory never changes after it is written (refresh, optimize
    and recreate each write a new ``v__=N``), so the fingerprint — the
    data dirs plus (path, size, mtime) of every content file — names the
    content exactly.  A different fingerprint replaces the slot: at most
    one version per index is held."""
    if cache is None or not entry.content_files:
        return None
    fp = (tuple(entry.index_data_dirs), tuple(f.key() for f in entry.content_files))
    held = cache.get(entry.name)
    if held is None or held[0] != fp:
        held = cache[entry.name] = (fp, {})
    return held[1]


def memo_frame(slot: dict | None, key, build):
    """``slot[key]``, built by ``build()`` on first use; no memo when
    ``slot`` is None or full."""
    if slot is None:
        return build()
    df = slot.get(key)
    if df is None:
        df = build()
        if len(slot) < _MAX_VERSION_FRAMES:
            slot[key] = df
    return df
