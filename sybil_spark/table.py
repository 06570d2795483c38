"""Table abstraction — directory layout, metadata registry, lifecycle.

Physical layout (reference: one dir per table holding column blocks
plus an ingest row-log, src/lib/table.go:212-215, src/lib/row_store.go):

    <db_dir>/<table>/
        blocks/       digested parquet (time-sorted, ~64k rows/file)
        ingest/       landing parquet appended by ingest (the "row log")
        meta.json     schema registry + column stats (the info.db analog)

Parquet replaces sybil's gob column files: dictionary/RLE encodings,
row-group zone maps, and compression come built-in
(SURVEY.md §1.4 mapping table).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

BLOCKS_DIR = "blocks"
INGEST_DIR = "ingest"
META_FILE = "meta.json"

#: rows per digested file ≈ sybil CHUNK_SIZE (reference src/lib/table.go:44)
CHUNK_SIZE = 65_536


@dataclass
class ColumnInfo:
    """Per-column stats — the IntInfo/StrInfo zone-map analog
    (reference src/lib/table_column_info.go:13-59). Only table-level
    stats live here; per-file stats are parquet footers."""
    name: str
    dtype: str
    min: float | None = None
    max: float | None = None
    count: int = 0
    cardinality: int | None = None


@dataclass
class TableMeta:
    name: str
    # first-writer-wins column typing (reference src/lib/table.go:155-170)
    key_types: dict[str, str] = field(default_factory=dict)
    int_info: dict[str, dict] = field(default_factory=dict)
    time_col: str | None = None
    row_count: int = 0
    updated_at: float = 0.0
    #: Z-order layout spec: once a digest clusters blocks by these
    #: columns, every later lifecycle pass (auto-digest,
    #: compact_blocks) must keep the same layout — a one-shot flag
    #: would silently erode back to time-sorted blocks.
    cluster_cols: list[str] | None = None

    def to_json(self) -> str:
        return json.dumps({
            "name": self.name, "key_types": self.key_types,
            "int_info": self.int_info, "time_col": self.time_col,
            "row_count": self.row_count, "updated_at": self.updated_at,
            "cluster_cols": self.cluster_cols,
        }, indent=2)

    @classmethod
    def from_json(cls, s: str) -> "TableMeta":
        d = json.loads(s)
        return cls(name=d["name"], key_types=d.get("key_types", {}),
                   int_info=d.get("int_info", {}), time_col=d.get("time_col"),
                   row_count=d.get("row_count", 0),
                   updated_at=d.get("updated_at", 0.0),
                   cluster_cols=d.get("cluster_cols"))


class Table:
    def __init__(self, db_dir: str, name: str):
        self.db_dir = db_dir
        self.name = name
        self.path = os.path.join(db_dir, name)

    @property
    def blocks_path(self) -> str:
        return os.path.join(self.path, BLOCKS_DIR)

    @property
    def ingest_path(self) -> str:
        return os.path.join(self.path, INGEST_DIR)

    @property
    def meta_path(self) -> str:
        return os.path.join(self.path, META_FILE)

    def exists(self) -> bool:
        return os.path.exists(self.meta_path) or os.path.exists(self.blocks_path)

    def load_meta(self) -> TableMeta:
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                return TableMeta.from_json(f.read())
        return TableMeta(name=self.name)

    def save_meta(self, meta: TableMeta) -> None:
        meta.updated_at = time.time()
        from sybil_spark.sources import commit
        commit.write_text(self.meta_path, meta.to_json())

    # -- reads -------------------------------------------------------------
    def read(self, spark: SparkSession, read_log: bool = False) -> DataFrame:
        """Scan the digested blocks; `read_log=True` unions the not-yet
        digested ingest log (reference `-read-log`)."""
        def has_data(p: str) -> bool:
            return os.path.isdir(p) and any(
                not f.startswith(("_", ".")) for f in os.listdir(p))

        parts = []
        if has_data(self.blocks_path):
            parts.append(spark.read.option("mergeSchema", "true")
                         .parquet(self.blocks_path))
        if read_log and has_data(self.ingest_path):
            parts.append(spark.read.option("mergeSchema", "true")
                         .parquet(self.ingest_path))
        if not parts:
            raise FileNotFoundError(f"table {self.name} has no data at {self.path}")
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        return df


def list_tables(db_dir: str) -> list[str]:
    """Enumerate tables (reference `sybil query -tables`,
    src/lib/printer.go:488-534)."""
    if not os.path.isdir(db_dir):
        return []
    return sorted(d for d in os.listdir(db_dir)
                  if os.path.isdir(os.path.join(db_dir, d)))


def table_info(spark: SparkSession, db_dir: str, name: str) -> dict:
    """Per-table count / size / columns-by-type (reference `-info`,
    src/lib/printer.go:569-647)."""
    from sybil_spark.sources import commit
    t = Table(db_dir, name)
    meta = t.load_meta()
    size = commit.usage(t.path)[1]
    df = t.read(spark, read_log=True)
    count = df.count()
    return {
        "name": name, "row_count": count, "bytes_on_disk": size,
        "avg_bytes_per_row": (size / count) if count else 0.0,
        "columns": {f.name: f.dataType.simpleString() for f in df.schema.fields},
        "key_types": meta.key_types,
        # lifetime column stats from the digest-maintained registry
        # (IntInfo min/max/count, StrInfo cardinality — reference
        # src/lib/table_column_info.go:13-59)
        "column_stats": meta.int_info,
    }


def register_views(spark: SparkSession, db_dir: str,
                   read_log: bool = False) -> list[str]:
    """Expose every table in `db_dir` as a temp view so plain
    `spark.sql` works beside the Query builder (the reference has no
    SQL surface at all — this is free on Spark and listed as an
    extension in SURVEY.md §7). Returns the view names."""
    names = list_tables(db_dir)
    for name in names:
        Table(db_dir, name).read(spark, read_log=read_log) \
            .createOrReplaceTempView(name)
    return names
