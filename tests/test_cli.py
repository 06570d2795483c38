"""CLI surface — the reference's command/flag pipeline end-to-end
(ingest → digest → query → trim → info), via cli.main with a shared
session."""

import json

import pytest

from sybil_spark.cli import main


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("clidb")
    src = d / "uptime.ndjson"
    with open(src, "w") as f:
        for i in range(200):
            f.write(json.dumps({
                "host": f"h{i % 3}", "ping": 40 + i % 20,
                "status": str(200 + (i % 2) * 300),
                "tags": ["prod"] if i % 2 else ["prod", "canary"],
                "time": 1_700_000_000 + i * 30}) + "\n")
    db_dir = str(d / "db")
    assert main(["ingest", "-dir", db_dir, "-table", "uptime",
                 "-time-col", "time", str(src)], spark=spark) == 0
    assert main(["digest", "-dir", db_dir, "-table", "uptime"],
                spark=spark) == 0
    return db_dir


def _run_json(capsys, spark, argv):
    assert main(argv + ["-json"], spark=spark) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_group_avg(capsys, spark, db):
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-group", "host", "-int", "ping", "-op", "avg"])
    assert len(rows) == 3
    assert {r["host"] for r in rows} == {"h0", "h1", "h2"}
    assert all("avg_ping" in r and "count" in r for r in rows)


def test_cli_having(capsys, spark, db):
    all_rows = _run_json(capsys, spark,
                         ["query", "-dir", db, "-table", "uptime",
                          "-group", "host", "-int", "ping", "-op", "avg"])
    cut = sorted(r["avg_ping"] for r in all_rows)[1]
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-group", "host", "-int", "ping", "-op", "avg",
                      "-having", f"avg_ping >= {cut}"])
    assert {r["host"] for r in rows} \
        == {r["host"] for r in all_rows if r["avg_ping"] >= cut}
    assert 0 < len(rows) < len(all_rows)


def test_cli_filters(capsys, spark, db):
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-group", "host",
                      "-int-filter", "ping:gt:50",
                      "-str-filter", "status:eq:200",
                      "-set-filter", "tags:in:canary"])
    total = sum(r["count"] for r in rows)
    want = sum(1 for i in range(200)
               if 40 + i % 20 > 50 and i % 2 == 0)
    assert total == want


def test_cli_time_rollup(capsys, spark, db):
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-time", "-time-col", "time", "-time-bucket", "600",
                      "-int", "ping", "-op", "avg", "-limit", "200"])
    assert sum(r["count"] for r in rows) == 200
    assert all(r["tbucket"] % 600 == 0 for r in rows)


def test_cli_hist_and_loghist(capsys, spark, db):
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-int", "ping", "-op", "hist", "-int-bucket", "10"])
    assert sum(r["count"] for r in rows) == 200
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-int", "ping", "-loghist"])
    assert {r["bucket"] for r in rows} == {32.0}  # pings 40..59


def test_cli_distinct_and_samples(capsys, spark, db):
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-distinct", "host"])
    assert rows[0]["distinct"] == 3
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-samples", "-sort", "time", "-limit", "5"])
    assert len(rows) == 5
    times = [r["time"] for r in rows]
    assert times == sorted(times, reverse=True)


def test_cli_tables_info_trim(capsys, spark, db):
    assert main(["tables", "-dir", db], spark=spark) == 0
    assert "uptime" in capsys.readouterr().out
    assert main(["info", "-dir", db, "-table", "uptime"], spark=spark) == 0
    info = json.loads(capsys.readouterr().out)
    assert info["row_count"] == 200
    assert main(["trim", "-dir", db, "-table", "uptime", "-time-col", "time",
                 "-before", str(1_700_000_000 + 100 * 30)], spark=spark) == 0
    assert "would delete" in capsys.readouterr().out


def test_cli_export(capsys, spark, db, tmp_path):
    out = str(tmp_path / "export")
    assert main(["query", "-dir", db, "-table", "uptime",
                 "-str-filter", "status:eq:500", "-samples",
                 "-limit", "500", "-export", out], spark=spark) == 0
    import glob
    import gzip
    files = glob.glob(f"{out}/*.csv.gz")
    assert files
    n = 0
    for fp in files:
        with gzip.open(fp, "rt") as f:
            lines = f.read().strip().splitlines()
            assert "\t" in lines[0]
            n += len(lines) - 1
    assert n == 100  # half the rows have status 500


def test_rollup_build_and_serve(spark, tmp_path, capsys):
    db = str(tmp_path / "db")
    src = str(tmp_path / "r.ndjson")
    with open(src, "w") as f:
        for i in range(50):
            f.write(json.dumps({"host": f"h{i % 2}", "ping": 10 + i,
                                "time": 1_700_000_000 + i * 40}) + "\n")
    assert main(["ingest", "-dir", db, "-table", "up", "-time-col", "time",
                 src], spark) == 0
    assert main(["digest", "-dir", db, "-table", "up"], spark) == 0
    roll = str(tmp_path / "roll")
    assert main(["rollup-build", "-dir", db, "-table", "up", "-out", roll,
                 "-bucket", "60", "-group", "host", "-int", "ping"],
                spark) == 0
    capsys.readouterr()
    assert main(["rollup-serve", "-rollup", roll, "-group", "host",
                 "-int", "ping", "-json"], spark) == 0
    out = json.loads(capsys.readouterr().out)
    got = {r["host"]: r for r in out}
    assert got["h0"]["count"] == 25 and got["h1"]["count"] == 25
    import statistics
    want = statistics.mean(10 + i for i in range(50) if i % 2 == 0)
    assert got["h0"]["avg_ping"] == want


def test_cli_hist_summary(capsys, spark, db):
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-group", "host", "-int", "ping", "-op", "hist",
                      "-hist-summary", "-int-bucket", "5"])
    assert len(rows) == 3
    r = rows[0]
    for k in ("samples", "avg_ping", "stddev_ping", "p25", "p50", "p75"):
        assert k in r, r
    # pings are 40..59 roughly uniform; the median bucket is sane
    assert 40 <= r["p50"] <= 60


def test_cli_inspect(capsys, spark, db):
    import os
    from sybil_spark.table import Table
    t = Table(db, "uptime")
    block = next(os.path.join(t.blocks_path, f)
                 for f in sorted(os.listdir(t.blocks_path))
                 if f.endswith(".parquet"))
    assert main(["inspect", "-file", block]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["num_rows"] > 0
    assert "time" in out["columns"]
    assert "min" in out["columns"]["time"]     # zone-map stats surfaced
    assert main(["inspect", "-file", t.meta_path]) == 0
    meta = json.loads(capsys.readouterr().out)
    assert meta["key_types"]["ping"] == "int"


def test_cli_cached_query_matches_direct(capsys, monkeypatch, spark, db):
    """-cache-queries (reference FLAGS.CACHED_QUERIES): the cached
    avg answer equals the direct path's, cold and warm, and the
    table grows a cache/ dir of per-block partials."""
    import os
    from sybil_spark.table import Table
    direct = _run_json(capsys, spark,
                       ["query", "-dir", db, "-table", "uptime",
                        "-group", "host", "-int", "ping", "-op", "avg",
                        "-int-filter", "ping:gt:45"])
    argv = ["query", "-dir", db, "-table", "uptime",
            "-group", "host", "-int", "ping", "-op", "avg",
            "-int-filter", "ping:gt:45", "-cache-queries",
            "-cache-min-rows", "1"]
    cold = _run_json(capsys, spark, argv)
    warm = _run_json(capsys, spark, argv)

    def key(rows):
        # avg at 1e-5: the cache serves the rollup semantic (exact
        # decimal(38,6) sum, then decimal divide) while the direct
        # path divides in double — same to ~6 decimals by design
        return sorted((r["host"], r["count"], round(r["avg_ping"], 5))
                      for r in rows)
    assert key(cold) == key(warm) == key(direct)
    assert os.path.isdir(os.path.join(db, "uptime", "cache"))

    # the cached path shapes its rows with the direct path's step:
    # default count-desc sort with group-key tiebreaks, HAVING, limit
    # (200 rows over 60 host,ping groups: 20 of count 4, 40 of 3)
    for shape in (["-limit", "5"], ["-limit", "5", "-having", "count > 3"]):
        argv = ["query", "-dir", db, "-table", "uptime",
                "-group", "host,ping", "-op", "count", *shape]
        direct = _run_json(capsys, spark, argv)
        with monkeypatch.context() as m:
            # the cached path reads block footers, never the table
            m.setattr(Table, "read", lambda *a, **k: pytest.fail("read"))
            cached = _run_json(capsys, spark, argv + [
                "-cache-queries", "-cache-min-rows", "1"])
        assert len(direct) == 5
        assert cached == direct


def test_cli_distinct_limit_early_stop(capsys, spark, db):
    """-distinct-limit routes through the input-limiting block scan
    (reference mid-scan abort): N distinct tuples, filters honored."""
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime",
                      "-distinct", "ping", "-distinct-limit", "7",
                      "-int-filter", "ping:gt:45"])
    vals = [r["ping"] for r in rows]
    assert len(vals) == len(set(vals)) == 7
    assert all(v > 45 for v in vals)


def test_cli_cached_query_day_partitioned(capsys, spark, tmp_path):
    """-cache-queries over the day-partitioned 100TB layout: block
    files live under day= dirs (colliding basenames), answers still
    match the direct path, and a filter on the partition column
    falls back to the direct path instead of failing."""
    import json as _json
    import os

    d = tmp_path / "dp"
    src = d / "e.ndjson"
    os.makedirs(d)
    with open(src, "w") as f:
        for i in range(300):
            f.write(_json.dumps({
                "host": f"h{i % 3}", "ping": 40 + i % 20,
                "time": 1_700_000_000 + i * 600}) + "\n")
    db_dir = str(d / "db")
    assert main(["ingest", "-dir", db_dir, "-table", "dp",
                 "-time-col", "time", str(src)], spark=spark) == 0
    assert main(["digest", "-dir", db_dir, "-table", "dp",
                 "-day-partitions"], spark=spark) == 0

    base = ["query", "-dir", db_dir, "-table", "dp",
            "-group", "host", "-int", "ping", "-op", "avg",
            "-int-filter", "time:gt:1700050000"]
    direct = _run_json(capsys, spark, base)
    cached = _run_json(capsys, spark,
                       base + ["-cache-queries", "-cache-min-rows", "1"])
    key = lambda rows: sorted(  # noqa: E731
        (r["host"], r["count"], round(r["avg_ping"], 5)) for r in rows)
    assert key(cached) == key(direct)

    # partition-column filter: cached path refuses -> direct fallback
    rows = _run_json(capsys, spark,
                     ["query", "-dir", db_dir, "-table", "dp",
                      "-group", "day", "-cache-queries",
                      "-cache-min-rows", "1"])
    assert sum(r["count"] for r in rows) == 300


def test_cli_rollup_refresh(spark, tmp_path, capsys):
    """ingest -> digest -> rollup-refresh (new blocks only) ->
    rollup-serve: the CLI dashboard loop."""
    import json as _json
    db = str(tmp_path / "db")
    src = str(tmp_path / "rr.ndjson")
    with open(src, "w") as f:
        for i in range(60):
            f.write(_json.dumps({"host": f"h{i % 2}", "ping": 10 + i,
                                 "time": 1_700_000_000 + i * 40}) + "\n")
    assert main(["ingest", "-dir", db, "-table", "rr", "-time-col",
                 "time", src], spark) == 0
    assert main(["digest", "-dir", db, "-table", "rr"], spark) == 0
    roll = str(tmp_path / "roll")
    assert main(["rollup-refresh", "-dir", db, "-table", "rr",
                 "-out", roll, "-bucket", "60", "-group", "host",
                 "-int", "ping"], spark) == 0
    assert "refreshed 1 new blocks" in capsys.readouterr().out
    # second refresh: nothing new
    assert main(["rollup-refresh", "-dir", db, "-table", "rr",
                 "-out", roll, "-bucket", "60", "-group", "host",
                 "-int", "ping"], spark) == 0
    assert "refreshed 0 new blocks" in capsys.readouterr().out
    assert main(["rollup-serve", "-rollup", roll, "-group", "host",
                 "-int", "ping", "-json"], spark) == 0
    rows = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(r["count"] for r in rows) == 60


def test_cli_per_table_filter_scoping(capsys, spark, db):
    """P8: a 4th filter token scopes a filter to one table —
    dashboard clients broadcast one filter spec to many tables
    (reference checkTable, filter.go:15-21). Matching table applies;
    non-matching is skipped, not an error."""
    applied = _run_json(capsys, spark,
                        ["query", "-dir", db, "-table", "uptime",
                         "-int-filter", "ping:gt:50:uptime"])
    skipped = _run_json(capsys, spark,
                        ["query", "-dir", db, "-table", "uptime",
                         "-int-filter", "ping:gt:50:othertable"])
    none = _run_json(capsys, spark,
                     ["query", "-dir", db, "-table", "uptime"])
    n = lambda rows: sum(r["count"] for r in rows)  # noqa: E731
    assert n(applied) < n(none)
    assert n(skipped) == n(none)
    # colon-bearing str values survive (regex with ':'), and a
    # trailing token is only a scope when it names a real table
    colval = _run_json(capsys, spark,
                       ["query", "-dir", db, "-table", "uptime",
                        "-str-filter", "status:re:^(200|500):extra"])
    assert n(colval) == 0  # value is the full '^(200|500):extra' regex
    scoped = _run_json(capsys, spark,
                       ["query", "-dir", db, "-table", "uptime",
                        "-str-filter", "status:eq:200:uptime"])
    assert 0 < n(scoped) < n(none)


def test_cli_aggregate_stitches_shards(capsys, spark, tmp_path):
    """`aggregate dir1 dir2` — reference `sybil aggregate`
    (cmd_aggregate.go:7-35): rollup partials from two independently
    built shards union + merge + finalize into exactly the answer a
    single rollup over all the data gives (mergeable partials:
    decimal sums, min/max, moment pairs)."""
    db = str(tmp_path / "db")
    rolls = []
    allrows = []
    for shard in (0, 1):
        src = str(tmp_path / f"s{shard}.ndjson")
        rows = [{"host": f"h{i % 2}", "ping": 10 + i + shard * 100,
                 "time": 1_700_000_000 + (shard * 50 + i) * 40}
                for i in range(50)]
        allrows += rows
        with open(src, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        tname = f"sh{shard}"
        assert main(["ingest", "-dir", db, "-table", tname,
                     "-time-col", "time", src], spark) == 0
        assert main(["digest", "-dir", db, "-table", tname], spark) == 0
        roll = str(tmp_path / f"roll{shard}")
        assert main(["rollup-build", "-dir", db, "-table", tname,
                     "-out", roll, "-bucket", "60",
                     "-group", "host", "-int", "ping"], spark) == 0
        rolls.append(roll)
    capsys.readouterr()
    assert main(["aggregate", *rolls, "-group", "host",
                 "-int", "ping", "-json"], spark) == 0
    got = {r["host"]: r for r in
           json.loads(capsys.readouterr().out)}
    import statistics
    for h in ("h0", "h1"):
        mine = [r["ping"] for r in allrows if r["host"] == h]
        assert got[h]["count"] == len(mine)
        assert got[h]["avg_ping"] == statistics.mean(mine)
        assert got[h]["min_ping"] == min(mine)
        assert got[h]["max_ping"] == max(mine)


def test_print_table_alignment(capsys, spark):
    """Aligned-table stdout (reference tabwriter.AlignRight,
    printer.go:70-71): numeric columns right-align under their
    header, strings left-align, group-key NULL renders ''."""
    from sybil_spark.query import printer
    df = spark.createDataFrame(
        [("alpha", 7, 1.5), (None, 12345, 0.25)],
        "g string, count long, avg double")
    printer.print_table(df, ["g"])
    out = capsys.readouterr().out.splitlines()
    header, sep, r1, r2 = out[:4]
    assert header.split() == ["g", "count", "avg"]
    assert set(sep) == {"-"}
    # numeric right-alignment: the widest count (12345) defines the
    # column; 7 sits at its right edge, aligned with the 5 of 12345
    assert r1.index("7") == r2.index("12345") + 4
    # string left-alignment; the all-null group row gets the
    # grand-total label (printer.go:172-185)
    assert r1.startswith("alpha") and r2.startswith("TOTAL")
