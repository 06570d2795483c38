"""Command-line interface — the reference's command/flag surface.

    python -m sybil_spark ingest -dir db -table t [-ints a,b] ... FILE
    python -m sybil_spark digest -dir db -table t
    python -m sybil_spark query  -dir db -table t -group host -int ping \
        -op avg -int-filter ping:gt:10 -limit 10 -json
    python -m sybil_spark trim   -dir db -table t -before TS [-delete]
    python -m sybil_spark rebuild -dir db -table t
    python -m sybil_spark tables -dir db
    python -m sybil_spark info   -dir db -table t

Flag names and semantics follow the reference (src/cmd/cmd_query.go:
19-83, cmd_ingest.go:26-56, cmd_trim.go): filters are col:op:val
triples, comma-separated lists for -group/-int/-distinct, -op one of
count|avg|hist|distinct, -time/-time-col/-time-bucket for rollups.
The one intentional difference: input is files, not stdin pipes —
driver programs submit Spark jobs rather than forking binaries."""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _split(s: str | None) -> list[str]:
    return [x for x in (s or "").split(",") if x]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="sybil_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("-dir", default="./db", dest="dir")
        sp.add_argument("-table", required=True, dest="table")

    sp = sub.add_parser("ingest", help="NDJSON/CSV file(s) into the row log")
    common(sp)
    sp.add_argument("files", nargs="+")
    sp.add_argument("-ints", default="")
    sp.add_argument("-timestamps", default="")
    sp.add_argument("-timestamp-format", default=None, dest="timestamp_format")
    sp.add_argument("-exclude", default="")
    sp.add_argument("-path", default=None, dest="json_path")
    sp.add_argument("-csv", action="store_true")
    sp.add_argument("-time-col", default=None, dest="time_col")
    sp.add_argument("-floats", action="store_true",
                    help="keep floats as double (reference truncates)")

    sp = sub.add_parser("digest", help="compact the row log into blocks")
    common(sp)
    sp.add_argument("-time-col", default=None, dest="time_col")
    sp.add_argument("-day-partitions", action="store_true",
                    dest="day_partitions",
                    help="write blocks under day=YYYY-MM-DD partitions")
    sp.add_argument("-cluster", default="", dest="cluster",
                    help="comma-separated numeric columns to Z-ORDER "
                         "blocks by (multi-column zone-map skipping) "
                         "instead of the default time sort; sticky — "
                         "saved to table meta so later digests/"
                         "compactions keep the layout; time-based "
                         "trim matches nothing on z-ordered blocks")

    sp = sub.add_parser("query")
    common(sp)
    sp.add_argument("-group", default="")
    sp.add_argument("-int", default="", dest="int_cols")
    sp.add_argument("-op", default="count",
                    choices=["count", "avg", "hist", "distinct"])
    sp.add_argument("-distinct", default="", dest="distinct_cols")
    sp.add_argument("-distinct-limit", type=int, default=None,
                    dest="distinct_limit",
                    help="return up to N distinct tuples of -distinct "
                         "cols, stopping the block scan early "
                         "(reference -distinct-limit, "
                         "src/cmd/cmd_query.go:62)")
    sp.add_argument("-int-filter", action="append", default=[],
                    dest="int_filters")
    sp.add_argument("-str-filter", action="append", default=[],
                    dest="str_filters")
    sp.add_argument("-set-filter", action="append", default=[],
                    dest="set_filters")
    sp.add_argument("-str-replace", action="append", default=[],
                    dest="str_replaces")
    sp.add_argument("-time", action="store_true", dest="time_rollup")
    sp.add_argument("-time-col", default="time", dest="time_col")
    sp.add_argument("-time-bucket", type=int, default=3600,
                    dest="time_bucket")
    sp.add_argument("-weight-col", default=None, dest="weight_col")
    sp.add_argument("-int-bucket", type=float, default=None,
                    dest="int_bucket")
    sp.add_argument("-loghist", action="store_true")
    sp.add_argument("-hist-summary", action="store_true",
                    dest="hist_summary",
                    help="composite hist output: samples/sum/avg/stddev"
                         " + bucket percentiles per group (the"
                         " reference's -op hist printout)")
    sp.add_argument("-sort", default=None)
    sp.add_argument("-sort-asc", action="store_true", dest="sort_asc")
    sp.add_argument("-having", action="append", default=[],
                    help="post-aggregation SQL predicate over result "
                         "columns (count, avg_<col>, group keys); "
                         "repeatable, ANDed (extension — the "
                         "reference filters rows only)")
    sp.add_argument("-limit", type=int, default=100)
    sp.add_argument("-samples", action="store_true")
    sp.add_argument("-cache-queries", action="store_true",
                    dest="cache_queries",
                    help="serve from / populate the per-block result "
                         "cache (reference -cache-queries, "
                         "src/lib/query_cache.go); supported for "
                         "count/avg shapes with int/str filters")
    sp.add_argument("-cache-min-rows", type=int, default=None,
                    dest="cache_min_rows",
                    help="only cache blocks with at least this many "
                         "rows (default CHUNK_SIZE — the reference "
                         "skips partial blocks)")
    sp.add_argument("-read-log", action="store_true", dest="read_log")
    sp.add_argument("-json", action="store_true")
    sp.add_argument("-export", default=None,
                    help="write matched records as gzipped TSV here")

    sp = sub.add_parser("trim")
    common(sp)
    sp.add_argument("-time-col", default=None, dest="time_col")
    sp.add_argument("-before", type=int, default=None)
    sp.add_argument("-mb", type=int, default=None)
    sp.add_argument("-delete", action="store_true")

    sp = sub.add_parser("rebuild")
    common(sp)

    sp = sub.add_parser(
        "rollup-build",
        help="materialize mergeable partials from a table (engine "
             "extension: the continuous query cache, sources/rollup.py)")
    common(sp)
    sp.add_argument("-out", required=True, help="rollup output dir")
    sp.add_argument("-time-col", default="time", dest="time_col")
    sp.add_argument("-bucket", type=int, default=60,
                    help="finest servable granularity, seconds")
    sp.add_argument("-group", default="")
    sp.add_argument("-int", default="", dest="int_cols")
    sp.add_argument("-distinct", default="", dest="distinct_cols")

    sp = sub.add_parser(
        "rollup-refresh",
        help="incrementally fold NEW blocks into a rollup dir "
             "(manifest-tracked; per-refresh cost proportional to "
             "new data — the continuous dashboard loop)")
    common(sp)
    sp.add_argument("-out", required=True, help="rollup dir")
    sp.add_argument("-time-col", default="time", dest="time_col")
    sp.add_argument("-bucket", type=int, default=60)
    sp.add_argument("-group", default="")
    sp.add_argument("-int", default="", dest="int_cols")
    sp.add_argument("-distinct", default="", dest="distinct_cols")

    sp = sub.add_parser(
        "rollup-compact",
        help="fold incrementally-appended rollup partials (stays "
             "mergeable; see sources/rollup.compact_rollup)")
    sp.add_argument("-rollup", required=True, help="rollup dir")
    sp.add_argument("-group", default="")
    sp.add_argument("-int", default="", dest="int_cols")
    sp.add_argument("-distinct", action="store_true")

    sp = sub.add_parser("rollup-serve",
                        help="answer an aggregate from a rollup dir")
    sp.add_argument("-rollup", required=True, help="rollup dir")
    sp.add_argument("-group", default="")
    sp.add_argument("-int", default="", dest="int_cols")
    sp.add_argument("-time-bucket", type=int, default=None,
                    dest="time_bucket")
    sp.add_argument("-distinct", action="store_true")
    sp.add_argument("-json", action="store_true")

    sp = sub.add_parser(
        "aggregate",
        help="stitch partial results from MULTIPLE rollup dirs into "
             "one answer (reference `sybil aggregate`, scatter-gather "
             "across shards: src/cmd/cmd_aggregate.go:7-35 / VTable."
             "StitchResults — partials union, merge, finalize once)")
    sp.add_argument("rollups", nargs="+", help="rollup dirs to stitch")
    sp.add_argument("-group", default="")
    sp.add_argument("-int", default="", dest="int_cols")
    sp.add_argument("-time-bucket", type=int, default=None,
                    dest="time_bucket")
    sp.add_argument("-distinct", action="store_true")
    sp.add_argument("-json", action="store_true")

    sub.add_parser("version", help="engine + Spark versions "
                   "(reference `sybil version`, cmd_version.go)")

    sp = sub.add_parser("tables")
    sp.add_argument("-dir", default="./db", dest="dir")

    sp = sub.add_parser("info")
    common(sp)

    sp = sub.add_parser(
        "inspect",
        help="decode any engine data file (reference `sybil inspect`, "
             "src/cmd/cmd_inspect.go): parquet → footer schema, row "
             "groups, per-column stats; meta.json → pretty registry")
    sp.add_argument("-file", required=True, dest="file")
    return p


def run_inspect(path: str) -> dict:
    """Footer/metadata facts for one file — no data scan."""
    if path.endswith(".json"):
        from sybil_spark.sources import commit
        return commit.read_json(path)
    import pyarrow.parquet as pq
    pf = pq.ParquetFile(path)
    md = pf.metadata
    out = {
        "file": path, "num_rows": md.num_rows,
        "num_row_groups": md.num_row_groups,
        "created_by": md.created_by,
        "schema": {f.name: str(f.physical_type)
                   for f in pf.schema},
        "columns": {},
    }
    for i in range(md.num_columns if md.num_row_groups else 0):
        name = md.row_group(0).column(i).path_in_schema
        info = {"compression": md.row_group(0).column(i).compression,
                "encodings": list(md.row_group(0).column(i).encodings)}
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is not None and st.has_min_max:
                mins.append(st.min)
                maxs.append(st.max)
        if mins:
            try:
                info["min"], info["max"] = min(mins), max(maxs)
            except TypeError:
                pass
        out["columns"][name] = info
    return out


def _split_filter(spec: str, table: str, db_dir: str,
                  kind: str = "str") -> tuple | None:
    """col:op:val[:table] — an optional 4th token scopes the filter
    to one table (reference checkTable, src/lib/filter.go:15-21,
    82-84: dashboard clients broadcast ONE filter spec to many
    tables; non-matching filters are skipped, not errors).

    Values may themselves contain colons (regexes, URLs, HH:MM), so
    the scope token is only recognized when it can't be value text:
    for int filters the first colon after the value ends it (numbers
    have no colons); for str/set filters the trailing token must
    name the current table or an EXISTING sibling table — anything
    else stays part of the value."""
    col, op, rest = spec.split(":", 2)
    if ":" in rest:
        if kind == "int":
            val, _, scope = rest.partition(":")
            return (col, op, val) if scope == table else None
        val, _, scope = rest.rpartition(":")
        if scope == table:
            return (col, op, val)
        from sybil_spark.table import list_tables
        if scope in list_tables(db_dir):
            return None
    return (col, op, rest)


def _filters(q, args) -> None:
    for trip in args.int_filters:
        f = _split_filter(trip, args.table, args.dir, kind="int")
        if f:
            col, op, val = f
            q.int_filter(col, op, float(val) if "." in val else int(val))
    for trip in args.str_filters:
        f = _split_filter(trip, args.table, args.dir)
        if f:
            q.str_filter(*f)
    for trip in args.set_filters:
        f = _split_filter(trip, args.table, args.dir)
        if f:
            q.set_filter(*f)
    for trip in args.str_replaces:
        col, pat, repl = trip.split(":", 2)
        q.str_replace(col, pat, repl)


def _cacheable(args) -> bool:
    """Query shapes the per-block cache serves: count/avg pipelines
    over int/str filters (the reference likewise skips caching for
    -samples, query_cache.go:151-155). Everything else silently runs
    the direct path — same answers, no cache: the cached path
    compiles its filters with the direct path's compiler
    (builder.compile_filters over Query.filter_specs) and shapes its
    rows with the direct path's HAVING/sort/limit step
    (Query.shape_result)."""
    return (args.cache_queries and not args.samples and not args.loghist
            and args.op in ("count", "avg") and not args.distinct_cols
            and not args.set_filters and not args.str_replaces
            and not args.weight_col and not args.read_log)


def _run_query_cached(spark: SparkSession, args, t, q, groups, int_cols):
    """Cached count/avg execution. Returns None when the spec can't
    be served from block files (e.g. it references a partition-dir
    column) — the caller falls back to the direct path."""
    from sybil_spark.sources import query_cache as QC
    spec = QC.CacheSpec(
        group_cols=tuple(groups),
        num_cols=tuple(int_cols) if args.op == "avg" else (),
        time_col=args.time_col if args.time_rollup else None,
        bucket_s=args.time_bucket if args.time_rollup else None,
        filters=q.filter_specs())
    kw = {}
    if args.cache_min_rows is not None:
        kw["cache_min_rows"] = args.cache_min_rows
    try:
        out = QC.run(spark, t, spec, **kw)
    except ValueError:
        return None  # non-cacheable column set -> direct path
    # project to the direct path's output schema: serve() emits the
    # whole mergeable surface (sum/min/max/stddev), but -op avg/count
    # consumers must see the same columns with or without the flag
    keep = list(groups)
    if args.time_rollup:
        keep.insert(0, "tbucket")
    keep.append("count")
    if args.op == "avg":
        keep += [f"avg_{c}" for c in int_cols]
    return q.shape_result(out.select(*keep))


def run_query(spark: SparkSession, args) -> "DataFrame":
    from functools import partial

    from sybil_spark.query.builder import Query
    from sybil_spark.table import Table

    t = Table(args.dir, args.table)
    # the invocation's one Query: every path below takes its filters
    # (and the aggregate paths their shaping) from it; the table is
    # read only when a direct plan is built
    q = Query.table(partial(t.read, read_log=args.read_log))
    _filters(q, args)
    groups = _split(args.group)
    if groups:
        q.group_by(*groups)
    if args.weight_col:
        q.weight_col(args.weight_col)
    if args.time_rollup:
        q.time_col(args.time_col, args.time_bucket)
    if args.sort:
        q.sort(args.sort, asc=args.sort_asc)
    for h in args.having:
        q.having(h)
    q.limit(args.limit)
    int_cols = _split(args.int_cols)

    if _cacheable(args):
        out = _run_query_cached(spark, args, t, q, groups, int_cols)
        if out is not None:
            return out
    if args.distinct_limit and args.distinct_cols and not args.read_log \
            and not args.str_replaces:
        # true input-limiting early stop over the block files
        # (reference mid-scan abort), with the direct path's predicate
        from sybil_spark.query.builder import (compile_filters,
                                               distinct_values_early_stop)
        from sybil_spark.sources.query_cache import _list_blocks
        return distinct_values_early_stop(
            spark, _list_blocks(t.blocks_path),
            _split(args.distinct_cols), args.distinct_limit,
            predicate=compile_filters(q.filter_specs()))
    if args.samples:
        return q.samples(spark, n=args.limit, sort_col=args.sort,
                         asc=args.sort_asc)
    if args.loghist:
        return q.loghist(spark, int_cols[0])
    if args.op == "hist":
        if args.hist_summary:
            return q.hist_summary(spark, int_cols[0],
                                  bucket=args.int_bucket)
        return q.hist(spark, int_cols[0], bucket=args.int_bucket)
    if args.op == "distinct" or args.distinct_cols:
        q.distinct_cols(*_split(args.distinct_cols or args.int_cols))
    elif args.op == "avg":
        for c in int_cols:
            q.agg(c, "avg")
    return q.execute(spark)


def _print(df, args) -> None:
    """A result as JSON rows (-json) or an aligned table."""
    from sybil_spark.query import printer
    show = printer.print_json if args.json else printer.print_table
    show(df, _split(args.group))


def main(argv: list[str] | None = None,
         spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "inspect":
        # pure-metadata command: no SparkSession needed
        import json as _json
        print(_json.dumps(run_inspect(args.file), indent=2, default=str))
        return 0
    own_session = spark is None
    if spark is None:
        from sybil_spark.session import get_spark
        spark = get_spark(f"sybil_spark-{args.cmd}")

    from sybil_spark.sources import compact, ingest
    from sybil_spark.table import Table, list_tables, table_info

    try:
        if args.cmd == "ingest":
            spec = ingest.IngestSpec(
                ints=_split(args.ints), timestamps=_split(args.timestamps),
                timestamp_format=args.timestamp_format,
                exclude=_split(args.exclude), json_path=args.json_path,
                float_mode="keep" if args.floats else "truncate")
            t = Table(args.dir, args.table)
            total = 0
            for f in args.files:
                fn = ingest.ingest_csv if args.csv else ingest.ingest_json
                total += fn(spark, f, t, spec, time_col=args.time_col)
            print(f"ingested {total} records into {t.path}")
        elif args.cmd == "digest":
            n = compact.digest(spark, Table(args.dir, args.table),
                               time_col=args.time_col,
                               day_partitions=args.day_partitions,
                               cluster_cols=[c.strip() for c in
                                             args.cluster.split(",")
                                             if c.strip()]
                               or None)
            print(f"digested {n} records")
        elif args.cmd == "query":
            out = run_query(spark, args)
            if args.export:
                from sybil_spark.sources.export import export_tsv
                export_tsv(out, args.export)
                print(f"exported to {args.export}")
            else:
                _print(out, args)
        elif args.cmd == "trim":
            doomed = compact.trim(Table(args.dir, args.table),
                                  time_col=args.time_col, before=args.before,
                                  size_budget_mb=args.mb, delete=args.delete)
            verb = "deleted" if args.delete else "would delete"
            print(f"{verb} {len(doomed)} block files")
            for p in doomed:
                print(" ", p)
        elif args.cmd == "rebuild":
            meta = compact.rebuild_meta(spark, Table(args.dir, args.table))
            print(meta.to_json())
        elif args.cmd == "rollup-build":
            from sybil_spark.sources import rollup as R
            df = Table(args.dir, args.table).read(spark)
            roll = R.build_rollup(df, args.time_col, args.bucket,
                                  _split(args.group), _split(args.int_cols),
                                  _split(args.distinct_cols) or None)
            R.write_rollup(roll, args.out)
            print(f"rollup written to {args.out}")
        elif args.cmd == "rollup-refresh":
            from sybil_spark.sources import rollup as R
            t = Table(args.dir, args.table)
            n = R.refresh_rollup(spark, t.blocks_path, args.out,
                                 args.time_col, args.bucket,
                                 _split(args.group),
                                 _split(args.int_cols),
                                 _split(args.distinct_cols) or None)
            print(f"refreshed {n} new blocks into {args.out}")
        elif args.cmd == "rollup-compact":
            from sybil_spark.sources import rollup as R
            n = R.compact_rollup(spark, args.rollup, _split(args.group),
                                 _split(args.int_cols),
                                 distinct=args.distinct)
            print(f"compacted to {n} partial rows")
        elif args.cmd in ("rollup-serve", "aggregate"):
            # one rollup dir, or several stitched: partials union,
            # merge, finalize once
            from sybil_spark.sources import rollup as R
            paths = ([args.rollup] if args.cmd == "rollup-serve"
                     else args.rollups)
            union = R.read_rollup(spark, paths[0])
            for p in paths[1:]:
                union = union.unionByName(R.read_rollup(spark, p),
                                          allowMissingColumns=True)
            _print(R.serve(union, _split(args.group), _split(args.int_cols),
                           bucket_s=args.time_bucket,
                           distinct=args.distinct), args)
        elif args.cmd == "version":
            import pyspark
            print(f"sybil_spark 0.5.0 (round 5) / "
                  f"pyspark {pyspark.__version__}")
        elif args.cmd == "tables":
            for t in list_tables(args.dir):
                print(t)
        elif args.cmd == "info":
            import json as _json
            print(_json.dumps(table_info(spark, args.dir, args.table),
                              indent=2))
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
