"""Index operation-log entries: the durable metadata of every index.

Re-expresses the reference's IndexLogEntry model
(/root/reference/src/main/scala/com/microsoft/hyperspace/index/IndexLogEntry.scala:
FileInfo :305-332 (equality on name/size/mtime), FileIdTracker :627-703,
Content/Directory :40-303 — flattened here to a plain file list, Relation
:369-406, state constants actions/Constants.scala:19-35) as JSON-friendly
Python dataclasses.  One JSON document per log id; the data files of each
index version live under ``<index>/v__=<version>/``.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any


class States:
    """Index lifecycle states (reference: actions/Constants.scala:19-35)."""

    ACTIVE = "ACTIVE"
    CREATING = "CREATING"
    DELETING = "DELETING"
    DELETED = "DELETED"
    REFRESHING = "REFRESHING"
    VACUUMING = "VACUUMING"
    VACUUMINGOUTDATED = "VACUUMINGOUTDATED"
    RESTORING = "RESTORING"
    OPTIMIZING = "OPTIMIZING"
    DOESNOTEXIST = "DOESNOTEXIST"

    STABLE = {ACTIVE, DELETED, DOESNOTEXIST}


@dataclass(frozen=True)
class FileInfo:
    """A source or index data file; identity is (path, size, mtime)."""

    path: str
    size: int
    mtime: int
    id: int = -1

    def key(self) -> tuple[str, int, int]:
        return (self.path, self.size, self.mtime)

    def to_json(self) -> dict[str, Any]:
        return {"path": self.path, "size": self.size, "mtime": self.mtime, "id": self.id}

    @staticmethod
    def from_json(d: dict[str, Any]) -> "FileInfo":
        return FileInfo(d["path"], d["size"], d["mtime"], d.get("id", -1))


class FileIdTracker:
    """Monotonic unique id per (path, size, mtime).

    Ids power the lineage column and the skipping-index join key
    (reference: IndexLogEntry.scala:627-703).
    """

    def __init__(self) -> None:
        self._ids: dict[tuple[str, int, int], int] = {}
        self._max_id = -1

    @property
    def max_id(self) -> int:
        return self._max_id

    def add_or_get(self, f: FileInfo) -> int:
        key = f.key()
        existing = self._ids.get(key)
        if existing is not None:
            return existing
        self._max_id += 1
        self._ids[key] = self._max_id
        return self._max_id

    def get(self, f: FileInfo) -> int | None:
        return self._ids.get(f.key())

    def items(self) -> list[tuple[tuple[str, int, int], int]]:
        return list(self._ids.items())

    def to_json(self) -> dict[str, Any]:
        return {
            "maxId": self._max_id,
            "files": [
                {"path": p, "size": s, "mtime": m, "id": i}
                for (p, s, m), i in sorted(self._ids.items(), key=lambda kv: kv[1])
            ],
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "FileIdTracker":
        t = FileIdTracker()
        for f in d.get("files", []):
            t._ids[(f["path"], f["size"], f["mtime"])] = f["id"]
        t._max_id = d.get("maxId", max([f["id"] for f in d.get("files", [])], default=-1))
        return t


@dataclass
class Relation:
    """One source relation of an index (reference: IndexLogEntry.scala:369-406)."""

    root_paths: list[str]
    file_format: str  # parquet / csv / json / orc / text / avro / delta / iceberg
    files: list[FileInfo] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    data_schema_json: str | None = None
    partition_base_path: str | None = None
    partition_columns: list[str] = field(default_factory=list)

    def to_json(self) -> dict[str, Any]:
        return {
            "rootPaths": self.root_paths,
            "fileFormat": self.file_format,
            "files": [f.to_json() for f in self.files],
            "options": self.options,
            "dataSchemaJson": self.data_schema_json,
            "partitionBasePath": self.partition_base_path,
            "partitionColumns": self.partition_columns,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Relation":
        return Relation(
            root_paths=d["rootPaths"],
            file_format=d["fileFormat"],
            files=[FileInfo.from_json(f) for f in d.get("files", [])],
            options=d.get("options", {}),
            data_schema_json=d.get("dataSchemaJson"),
            partition_base_path=d.get("partitionBasePath"),
            partition_columns=d.get("partitionColumns", []),
        )

    def read(self, spark, files: list[FileInfo] | None = None):
        """The relation's rows, read exactly like its build scan: stored
        schema + reader options (minus path).  Every read of source files
        goes through here — the build source, incremental refresh, the
        hybrid-scan appended readers, the planner's scan leaves
        (``ir.Scan`` shares this method: the replayed source scan, the
        data-skipping rule's kept files, the metadata-only fold's
        appended files) and recommend()'s sampling probes — because
        without the options an appended CSV with header=true would be
        parsed with defaults and its header row would become index data.
        ``files`` restricts the read to those source files; basePath is
        then added for partitioned sources so partition columns stay
        resolvable."""
        from pyspark.sql.types import StructType

        reader = spark.read.format(self.file_format)
        if self.data_schema_json:
            reader = reader.schema(StructType.fromJson(json.loads(self.data_schema_json)))
        if self.options:
            reader = reader.options(**{k: v for k, v in self.options.items() if k != "path"})
        if files is None:
            return reader.load(self.root_paths)
        if self.partition_columns:
            reader = reader.option("basePath", self.root_paths[0])
        return reader.load([f.path for f in files])


@dataclass
class IndexLogEntry:
    """One version of one index, as recorded in the operation log.

    ``derived_kind`` is one of "CI" (covering), "ZCI" (z-order covering),
    "DS" (data skipping) — reference Index.kindAbbr.  ``derived_properties``
    carries the kind-specific payload (indexed/included columns, bucket
    count, sketches...).
    """

    name: str
    derived_kind: str
    derived_properties: dict[str, Any]
    relations: list[Relation]
    signature: str
    index_data_dirs: list[str]  # absolute v__=N dirs holding current index data
    content_files: list[FileInfo] = field(default_factory=list)
    state: str = States.CREATING
    id: int = 0
    data_version: int = 0  # highest v__=N created so far
    timestamp_ms: int = 0
    file_id_tracker: FileIdTracker = field(default_factory=FileIdTracker)
    appended_files: list[FileInfo] = field(default_factory=list)  # quick-refresh delta
    deleted_files: list[FileInfo] = field(default_factory=list)
    properties: dict[str, Any] = field(default_factory=dict)

    # -- convenience -----------------------------------------------------
    @property
    def source_files(self) -> list[FileInfo]:
        return [f for r in self.relations for f in r.files]

    def source_files_by_key(self) -> dict[tuple[str, int, int], FileInfo]:
        return {f.key(): f for f in self.source_files}

    def schema(self):
        from pyspark.sql.types import StructType

        js = self.relations[0].data_schema_json
        return StructType.fromJson(json.loads(js)) if js else None

    def with_state(self, state: str, log_id: int) -> "IndexLogEntry":
        import copy

        e = copy.deepcopy(self)
        e.state = state
        e.id = log_id
        e.timestamp_ms = int(time.time() * 1000)
        return e

    # -- json ------------------------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "derivedKind": self.derived_kind,
                "derivedProperties": self.derived_properties,
                "relations": [r.to_json() for r in self.relations],
                "signature": self.signature,
                "indexDataDirs": self.index_data_dirs,
                "contentFiles": [f.to_json() for f in self.content_files],
                "state": self.state,
                "id": self.id,
                "dataVersion": self.data_version,
                "timestampMs": self.timestamp_ms,
                "fileIdTracker": self.file_id_tracker.to_json(),
                "appendedFiles": [f.to_json() for f in self.appended_files],
                "deletedFiles": [f.to_json() for f in self.deleted_files],
                "properties": self.properties,
            },
            indent=1,
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "IndexLogEntry":
        d = json.loads(s)
        return IndexLogEntry(
            name=d["name"],
            derived_kind=d["derivedKind"],
            derived_properties=d["derivedProperties"],
            relations=[Relation.from_json(r) for r in d["relations"]],
            signature=d["signature"],
            index_data_dirs=d["indexDataDirs"],
            content_files=[FileInfo.from_json(f) for f in d.get("contentFiles", [])],
            state=d["state"],
            id=d["id"],
            data_version=d.get("dataVersion", 0),
            timestamp_ms=d.get("timestampMs", 0),
            file_id_tracker=FileIdTracker.from_json(d.get("fileIdTracker", {})),
            appended_files=[FileInfo.from_json(f) for f in d.get("appendedFiles", [])],
            deleted_files=[FileInfo.from_json(f) for f in d.get("deletedFiles", [])],
            properties=d.get("properties", {}),
        )
