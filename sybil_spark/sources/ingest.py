"""Ingestion — the reference's dynamic typing rules over Spark.

The reference ingests newline-delimited JSON (or CSV) from stdin and
derives the schema from the data (reference src/cmd/cmd_ingest.go:
26-143):

- string  → str column, unless named in `ints` (parse int64) or in
  `timestamps` (parse with a format, store unix seconds)
- number  → int64, truncating floats (cmd_ingest.go:59-60)
- bool    → int 0/1 (cmd_ingest.go:61-66)
- object  → recursively flattened, parent_child names (67-70)
- array   → set column: array<string> (71-85)
- `exclude` drops columns; `path` selects a JSON sub-tree per line
- a column's type is fixed by FIRST use; later conflicting writes
  fail with a warning (src/lib/table.go:155-170) — implemented here
  as the meta.json key_types registry.

Spark mapping: read text/json → apply coercions as column
expressions → append small parquet files into TABLE/ingest/ (the
row-log analog, src/lib/row_store.go:197-259). `compact.digest`
later rewrites them into time-sorted blocks.

Float compat: the reference truncates JSON floats to int64. That
loses data most users want, so `float_mode` controls it:
"truncate" (reference-faithful) or "keep" (store DoubleType).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from sybil_spark.table import Table, TableMeta


@dataclass
class IngestSpec:
    """Flag-for-flag analog of the reference ingest options
    (src/cmd/cmd_ingest.go:26-56)."""
    ints: list[str] = field(default_factory=list)
    timestamps: list[str] = field(default_factory=list)
    timestamp_format: str | None = None   # Spark datetime pattern
    exclude: list[str] = field(default_factory=list)
    json_path: str | None = None          # `$.foo.bar` sub-tree selector
    float_mode: str = "truncate"          # "truncate" (reference) | "keep"


def flatten(df: DataFrame, sep: str = "_") -> DataFrame:
    """Recursively flatten struct columns to parent_child names
    (reference src/cmd/cmd_ingest.go:33-34, 67-70)."""
    while True:
        structs = [f for f in df.schema.fields
                   if isinstance(f.dataType, Ty.StructType)]
        if not structs:
            return df
        cols = []
        for f in df.schema.fields:
            if isinstance(f.dataType, Ty.StructType):
                for sub in f.dataType.fields:
                    cols.append(F.col(f"`{f.name}`.`{sub.name}`")
                                .alias(f"{f.name}{sep}{sub.name}"))
            else:
                cols.append(F.col(f"`{f.name}`"))
        df = df.select(*cols)


def coerce(df: DataFrame, spec: IngestSpec) -> DataFrame:
    """Apply the reference's type rules to a parsed DataFrame."""
    df = flatten(df)
    cols = []
    for f in df.schema.fields:
        name, dt = f.name, f.dataType
        c = F.col(f"`{name}`")
        if name in spec.exclude:
            continue
        if name in spec.ints:
            cols.append(c.cast("long").alias(name))
        elif name in spec.timestamps:
            ts = (F.to_timestamp(c, spec.timestamp_format)
                  if spec.timestamp_format else F.to_timestamp(c))
            cols.append(ts.cast("long").alias(name))  # unix seconds
        elif isinstance(dt, Ty.BooleanType):
            cols.append(c.cast("long").alias(name))
        elif isinstance(dt, (Ty.DoubleType, Ty.FloatType, Ty.DecimalType)):
            if spec.float_mode == "truncate":
                # reference-faithful: int64(float) truncates toward 0
                cols.append(c.cast("long").alias(name))
            else:
                cols.append(c.cast("double").alias(name))
        elif isinstance(dt, (Ty.LongType, Ty.IntegerType, Ty.ShortType,
                             Ty.ByteType)):
            cols.append(c.cast("long").alias(name))
        elif isinstance(dt, Ty.ArrayType):
            # set column: stringified distinct elements
            cols.append(F.array_distinct(c.cast("array<string>")).alias(name))
        else:
            cols.append(c.cast("string").alias(name))
    return df.select(*cols)


_SPARK_TO_SYBIL = {"bigint": "int", "string": "str", "array<string>": "set",
                   "double": "float"}


def _check_types(meta: TableMeta, df: DataFrame) -> DataFrame:
    """First-writer-wins type registry: a column that arrives with a
    different type than recorded is DROPPED from the batch with a
    warning, matching the reference's failed field write
    (src/lib/table.go:155-170, src/lib/record.go:113-115)."""
    keep = []
    for f in df.schema.fields:
        t = _SPARK_TO_SYBIL.get(f.dataType.simpleString(),
                                f.dataType.simpleString())
        prev = meta.key_types.get(f.name)
        if prev is None:
            meta.key_types[f.name] = t
            keep.append(f.name)
        elif prev == t:
            keep.append(f.name)
        else:
            import warnings
            warnings.warn(f"column {f.name}: type {t} conflicts with "
                          f"registered {prev}; dropping from batch")
    return df.select(*[F.col(f"`{c}`") for c in keep])


#: auto-digest thresholds, matching the reference's
#: ShouldCompactRowStore (src/lib/row_store.go:77-123):
#: FILE_DIGEST_THRESHOLD = 256 landing files,
#: SIZE_DIGEST_THRESHOLD = 2048 KB of landing bytes.
FILE_DIGEST_THRESHOLD = 256
SIZE_DIGEST_THRESHOLD_KB = 2048


def should_digest(table: Table) -> bool:
    """True when the landing dir has grown past the auto-compaction
    thresholds: more than FILE_DIGEST_THRESHOLD files or
    SIZE_DIGEST_THRESHOLD_KB whole KB. Directory metadata only — no
    data is read until the digest itself runs (reference
    row_store.go:101-123: 'there is no reason to actually read the
    data off disk until we decide to compact')."""
    import os
    if not os.path.exists(table.ingest_path):
        return False
    n_files = 0
    n_bytes = 0
    for f in os.listdir(table.ingest_path):
        if f.startswith(("_", ".")):
            continue
        n_files += 1
        try:
            n_bytes += os.path.getsize(os.path.join(table.ingest_path, f))
        except OSError:
            pass
    return (n_files > FILE_DIGEST_THRESHOLD
            or n_bytes // 1024 > SIZE_DIGEST_THRESHOLD_KB)


def maybe_digest(spark: SparkSession, table: Table) -> int:
    """Run compact.digest iff the landing dir is past threshold
    (reference MaybeCompactRecords, src/lib/table_ingest.go:63-71).
    Returns rows digested (0 = below threshold)."""
    from sybil_spark.sources import compact
    if should_digest(table):
        return compact.digest(spark, table)
    return 0


def ingest_df(df: DataFrame, table: Table, spec: IngestSpec | None = None,
              time_col: str | None = None, auto_digest: bool = True) -> int:
    """Coerce + append a batch into TABLE/ingest/ (the row log).

    Returns the number of rows written. Small files are expected —
    that is the row-log contract. When the landing dir passes the
    file-count/byte thresholds the batch triggers an inline digest
    (reference auto-compaction, src/lib/table_ingest.go:63-71), so a
    steady ingest loop can never grow the landing dir unboundedly;
    pass ``auto_digest=False`` to manage compaction externally.

    Holds the per-table lifecycle lock across the append + meta
    update (reference GrabInfoLock, src/lib/table_lock.go): a
    concurrent digest would otherwise wipe this write's in-flight
    `_temporary` committer dir (losing the batch), and two ingests'
    meta.row_count read-modify-writes would lose an update. The
    auto-digest runs AFTER release — it re-takes the lock itself."""
    from sybil_spark.sources.locks import table_lock

    spec = spec or IngestSpec()
    with table_lock(table):
        out = coerce(df, spec)
        meta = table.load_meta()
        out = _check_types(meta, out)
        # row count rides the write job via observe() — ONE scan of
        # the batch, not a count() action followed by a second scan
        # (at a steady 100 TB ingest a pre-count doubles the read
        # cost)
        from pyspark.sql import Observation
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        out.write.mode("append").parquet(table.ingest_path)
        n = obs.get["n"]
        meta.row_count += n
        if time_col and not meta.time_col:
            meta.time_col = time_col
        table.save_meta(meta)
    if auto_digest:
        maybe_digest(df.sparkSession, table)
    return n


def ingest_json(spark: SparkSession, lines_path: str, table: Table,
                spec: IngestSpec | None = None,
                time_col: str | None = None,
                infer_sample: int = 1000) -> int:
    """NDJSON file(s) → row log (reference `sybil ingest`).

    `spec.json_path` selects a sub-object per line before coercion
    (reference `-path $.foo.bar`, cmd_ingest.go:145-223). The
    sub-tree path stays entirely JVM-side: get_json_object extracts
    the sub-document, whose schema is inferred from the first
    `infer_sample` lines, and `from_json` parses the full data inside
    codegen — no per-line Python. Keys absent from the sample are
    dropped (matching first-use typing: a later batch where they
    appear early registers them)."""
    spec = spec or IngestSpec()
    if spec.json_path:
        raw = spark.read.text(lines_path)
        sel = F.get_json_object(F.col("value"), spec.json_path)
        sub = (raw.select(sel.alias("value"))
                  .where(F.col("value").isNotNull()))
        sample = [r["value"] for r in sub.limit(infer_sample).collect()]
        schema = spark.read.json(
            spark.sparkContext.parallelize(sample or ["{}"])).schema
        df = (sub.select(F.from_json("value", schema).alias("j"))
                 .select("j.*"))
    else:
        df = spark.read.json(lines_path)
    return ingest_df(df, table, spec, time_col)


def ingest_csv(spark: SparkSession, path: str, table: Table,
               spec: IngestSpec | None = None,
               time_col: str | None = None) -> int:
    """CSV with header; every value tried as number → long, else str
    (reference src/cmd/cmd_ingest.go:95-143)."""
    df = spark.read.csv(path, header=True, inferSchema=True)
    return ingest_df(df, table, spec or IngestSpec(), time_col)


def ingest_parquet(spark: SparkSession, path: str, table: Table,
                   spec: IngestSpec | None = None,
                   time_col: str | None = None) -> int:
    """Re-ingest an existing Parquet dataset (the most common
    onboarding path for a table that already lives in a lake) through
    the same typing rules as JSON/CSV — floats truncate to long,
    bools to 0/1, nested structs flatten, arrays become string sets —
    so downstream query semantics can't depend on which source format
    a row arrived through. The reference has no columnar re-ingest
    (JSON/CSV stdin only, src/cmd/cmd_ingest.go:229-311); with Spark
    the reader is free."""
    df = spark.read.parquet(path)
    return ingest_df(df, table, spec or IngestSpec(), time_col)


def ingest_orc(spark: SparkSession, path: str, table: Table,
               spec: IngestSpec | None = None,
               time_col: str | None = None) -> int:
    """ORC dataset through the same typing rules — see
    ingest_parquet. Spark's native ORC reader; no extra packages."""
    df = spark.read.orc(path)
    return ingest_df(df, table, spec or IngestSpec(), time_col)
