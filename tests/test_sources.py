"""Source-connector tests (SURVEY §2.1 S1/S2/S9)."""

import os
import time

from packs_spark import registry
from packs_spark.io.sources import (
    data_staleness_days,
    load_source,
    read_csv,
    read_parquet,
)


def test_csv_with_skiprows(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text(
        "junk preamble line 1\n"
        "junk preamble line 2\n"
        "id,name,score\n"
        "1,alpha,0.5\n"
        "2,beta,1.5\n"
        "3,gamma,2.5\n"
    )
    df = read_csv(spark, str(p), skiprows=2)
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("alpha", 0.5), 2: ("beta", 1.5), 3: ("gamma", 2.5)}
    assert df.schema["id"].dataType.typeName() in ("integer", "long")


def test_csv_skiprows_multi_partition_file(spark, tmp_path):
    """The skip must drop ONLY the leading preamble even when the file is
    read as many splits — rows deep in the file (other partitions) stream
    through untouched and none are lost."""
    p = tmp_path / "big.csv"
    n = 5000
    body = "".join(f"{i},name_{i},{i * 0.25}\n" for i in range(n))
    p.write_text("preamble A\npreamble B\nid,name,score\n" + body)
    df = read_csv(spark, str(p), skiprows=2)
    assert df.count() == n
    got = df.agg({"id": "sum"}).collect()[0][0]
    assert got == n * (n - 1) // 2


def test_csv_no_skiprows(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = load_source(spark, {"type": "csv", "path": str(p)})
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_folder_of_parquet_chunks_is_one_dataset(spark, tmp_path):
    d = tmp_path / "chunks"
    d.mkdir()
    spark.range(0, 5).write.parquet(str(d / "part1.parquet"))
    spark.range(5, 12).write.parquet(str(d / "part2.parquet"))
    df = load_source(spark, {"type": "folder", "paths": [
        str(d / "part1.parquet"), str(d / "part2.parquet")]})
    assert df.count() == 12  # chunk aggregation = plain multi-path scan


def test_staleness_days(tmp_path):
    p = tmp_path / "x.txt"
    p.write_text("hi")
    two_days_ago = time.time() - 2 * 86400
    os.utime(p, (two_days_ago, two_days_ago))
    d = data_staleness_days(str(tmp_path))
    assert 1.9 < d < 2.1


def test_export_rows_caps_and_roundtrips(spark, tmp_path):
    from packs_spark.io.export import duplicate_rows, export_rows

    df = spark.range(0, 50_000).withColumnRenamed("id", "k")
    out = str(tmp_path / "excerpt.parquet")
    export_rows(df, out, cap=10_000)
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert back.columns == ["k"]

    out_csv = str(tmp_path / "excerpt_csv")
    export_rows(df.limit(7), out_csv, cap=10_000, fmt="csv")
    assert spark.read.option("header", "true").csv(out_csv).count() == 7


def test_duplicate_rows_join(spark):
    from packs_spark.io.export import duplicate_rows

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "e"), (3, "f")],
        ["k", "v"],
    )
    rows = duplicate_rows(df, ["k"]).collect()
    assert len(rows) == 5  # k=1 twice + k=3 thrice; k=2 excluded
    assert all(r.dup_count in (2, 3) for r in rows)


def test_load_database_sources_resolution(spark):
    """The reference table_or_query contract: str -> one dataset,
    list -> one per name, '*' -> expand via list_tables (fakes injected —
    no JDBC driver in the sandbox; the JDBC reader itself is exercised
    against a real database in deployment)."""
    from packs_spark.io.sources import load_database_sources

    calls = []

    def fake_read(spark_, conf):
        calls.append(conf["table_or_query"])
        return spark_.range(1)

    def fake_list(spark_, conf):
        return ["t1", "t2"]

    base = {"url": "jdbc:fake", "table_or_query": "*"}
    out = load_database_sources(spark, base, _read=fake_read, _list=fake_list)
    assert set(out) == {"t1", "t2"} and calls == ["t1", "t2"]

    calls.clear()
    out = load_database_sources(
        spark, {**base, "table_or_query": ["a", "b"]}, _read=fake_read
    )
    assert set(out) == {"a", "b"}

    out = load_database_sources(
        spark, {**base, "table_or_query": "SELECT 1 AS x"}, _read=fake_read
    )
    assert set(out) == {"query"}

    out = load_database_sources(
        spark, {**base, "table_or_query": "mytable"}, _read=fake_read
    )
    assert set(out) == {"mytable"}


def test_jdbc_read_plan_partitioning():
    """Partitioned-scan planning: table vs query routing, derived-table
    wrapping, bounds auto-probe, explicit-bounds passthrough, and the
    empty-table (NULL bounds) fallback — pure logic, no driver jar."""
    from packs_spark.io.sources import _jdbc_read_plan

    probes = []

    def probe(sql):
        probes.append(sql)
        return (0, 99)

    # no partition column: plain routing
    assert _jdbc_read_plan({}, "t", probe) == {"dbtable": "t"}
    assert _jdbc_read_plan({}, "SELECT 1 AS x", probe) == {
        "query": "SELECT 1 AS x"
    }
    assert probes == []

    # table + auto-probed bounds
    plan = _jdbc_read_plan(
        {"partition_column": "id", "num_partitions": 4}, "t", probe
    )
    assert plan == {
        "dbtable": "t", "partitionColumn": "id",
        "lowerBound": "0", "upperBound": "99", "numPartitions": "4",
    }
    assert probes == ["SELECT MIN(id) AS lo, MAX(id) AS hi FROM t"]

    # query wraps as a derived table; explicit bounds skip the probe
    probes.clear()
    plan = _jdbc_read_plan(
        {"partition_column": "id", "num_partitions": 3,
         "lower_bound": 5, "upper_bound": 50},
        "SELECT id FROM t WHERE id > 4", probe,
    )
    assert plan["dbtable"] == "(SELECT id FROM t WHERE id > 4) spark_part_sq"
    assert (plan["lowerBound"], plan["upperBound"]) == ("5", "50")
    assert probes == []

    # empty table: probe returns NULLs -> unpartitioned fallback
    plan = _jdbc_read_plan(
        {"partition_column": "x"}, "empty_t", lambda sql: (None, None)
    )
    assert plan == {"dbtable": "empty_t"}

    # fractional probe results (DOUBLE/DECIMAL column): Spark parses
    # numeric bounds with toLong, so they must come back floored/ceiled
    from decimal import Decimal

    plan = _jdbc_read_plan(
        {"partition_column": "price"}, "t", lambda sql: (9.5, 120.2)
    )
    assert (plan["lowerBound"], plan["upperBound"]) == ("9", "121")
    plan = _jdbc_read_plan(
        {"partition_column": "price"}, "t",
        lambda sql: (Decimal("1.25"), Decimal("7.75")),
    )
    assert (plan["lowerBound"], plan["upperBound"]) == ("1", "8")


def test_head_sample_policy(spark):
    from packs_spark.io.sources import head_sample

    small = spark.range(100)
    df, sampled, n = head_sample(small, max_rows=1000, sample_to=10)
    assert not sampled and n == 100 and df.count() == 100

    big = spark.range(2000)
    df, sampled, n = head_sample(big, max_rows=1000, sample_to=10)
    assert sampled and n == 2000 and df.count() == 10

    # caller-provided count skips the counting pass
    df, sampled, n = head_sample(big, max_rows=1000, sample_to=10, n_rows=2000)
    assert sampled and df.count() == 10


def test_profile_report_html_and_json(spark, tmp_path):
    import json

    from packs_spark.io.report import profile_report

    s1 = spark.createDataFrame(
        [("c1", 10, 0.5), ("c2", 8, None)], ["column", "non_null", "score"]
    )
    s2 = spark.createDataFrame([(123,)], ["n_rows"])
    hp = str(tmp_path / "report.html")
    jp = str(tmp_path / "report.json")
    profile_report({"columns": s1, "table <stats>": s2}, hp, jp, title="t&d")

    doc = open(hp).read()
    assert "<td>c1</td>" in doc and "<td>123</td>" in doc
    assert "t&amp;d" in doc and "table &lt;stats&gt;" in doc  # escaped
    assert "<td></td>" in doc  # None renders empty

    blob = json.load(open(jp))
    assert blob["columns"][0]["column"] == "c1"
    assert blob["table <stats>"][0]["n_rows"] == 123


def test_csv_skiprows_spanning_multiple_partitions(spark, tmp_path):
    """The reviewer's repro: long preamble lines push the skip window past
    textFile's first byte split — every junk line must still be skipped."""
    p = tmp_path / "longpre.csv"
    junk = "".join(f"{'J' * 300}\n" for _ in range(4))
    body = "".join(f"{i},v{i}\n" for i in range(10))
    p.write_text(junk + "id,val\n" + body)
    df = read_csv(spark, str(p), skiprows=4)
    assert df.count() == 10
    assert set(df.columns) == {"id", "val"}
    assert {r.id for r in df.collect()} == set(range(10))


def test_sqlite_database_source_live_engine(spark, tmp_path):
    """S4 against a LIVE database engine: the sandbox has no JDBC driver
    jars/network, so sqlite: URLs route to the stdlib sqlite3 module
    in-process — the full table/query/list/'*' resolution contract runs
    against a real database, not fakes (the JDBC branch proper stays
    fake-tested; see read_database docstring)."""
    import sqlite3

    from packs_spark.io.sources import (
        list_tables,
        load_database_sources,
        read_database,
    )

    db = str(tmp_path / "ref.db")
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE iris (sepal REAL, species TEXT)")
        con.execute("CREATE TABLE dims (k INTEGER, label TEXT)")
        con.executemany(
            "INSERT INTO iris VALUES (?, ?)",
            [(5.1, "setosa"), (4.9, "setosa"), (6.3, "virginica")],
        )
        con.executemany(
            "INSERT INTO dims VALUES (?, ?)", [(1, "a"), (2, "b")]
        )
    conf = {"url": f"sqlite:{db}"}

    # single table
    df = read_database(spark, {**conf, "table_or_query": "iris"})
    assert df.count() == 3
    assert dict(df.dtypes) == {"sepal": "double", "species": "string"}

    # SQL query pushdown
    q = read_database(
        spark,
        {**conf,
         "table_or_query": "SELECT species, COUNT(*) AS n FROM iris "
                           "GROUP BY species"},
    )
    assert {r["species"]: r["n"] for r in q.collect()} == {
        "setosa": 2, "virginica": 1,
    }

    # list / '*' resolution
    assert list_tables(spark, conf) == ["dims", "iris"]
    all_tables = load_database_sources(spark, {**conf, "table_or_query": "*"})
    assert set(all_tables) == {"dims", "iris"}
    assert all_tables["dims"].count() == 2
    assert dict(all_tables["dims"].dtypes)["k"] == "bigint"

    # jdbc:sqlite: URL spelling resolves the same
    df2 = read_database(
        spark, {"url": f"jdbc:sqlite:{db}", "table_or_query": "dims"}
    )
    assert df2.count() == 2


def test_sqlite_source_through_pack(spark, tmp_path):
    import sqlite3

    from packs_spark.pack_api import run_pack

    db = str(tmp_path / "p.db")
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE people (name TEXT, comment TEXT)")
        con.executemany(
            "INSERT INTO people VALUES (?, ?)",
            [("alice", "fine"), ("bob", "n/a"), ("carol", None)],
        )
    out = run_pack(
        spark,
        "text_validation",
        {"type": "database", "url": f"sqlite:{db}",
         "table_or_query": "people", "name": "people"},
        {"job": {"columns": ["comment"]}},
    )
    m = {(r.key, r.scope): r.value for r in out["metrics"].collect()}
    assert m[("non_null", "comment")] == "2"
    assert m[("null_placeholder_text_found", "comment")] == "1"


def test_sqlite_star_excludes_views_and_empty_db(spark, tmp_path):
    """'*' expansion lists BASE TABLES only (views excluded, matching the
    information_schema filter on real engines); an empty database resolves
    to zero datasets instead of erroring; quoted identifiers survive."""
    import sqlite3

    from packs_spark.io.sources import (
        list_tables,
        load_database_sources,
        read_database,
    )

    db = str(tmp_path / "edge.db")
    con = sqlite3.connect(db)
    con.execute('CREATE TABLE "weird ""name""" (x INTEGER)')
    con.execute('INSERT INTO "weird ""name""" VALUES (7)')
    con.execute("CREATE TABLE plain (y TEXT)")
    con.execute("CREATE VIEW v_plain AS SELECT y FROM plain")
    con.commit()
    con.close()
    conf = {"url": f"sqlite:{db}"}

    assert list_tables(spark, conf) == ["plain", 'weird "name"']
    got = load_database_sources(spark, {**conf, "table_or_query": "*"})
    assert set(got) == {"plain", 'weird "name"'}  # no v_plain
    assert got['weird "name"'].collect()[0]["x"] == 7

    # embedded-double-quote identifier through the single-table path too
    one = read_database(spark, {**conf, "table_or_query": 'weird "name"'})
    assert one.count() == 1

    empty = str(tmp_path / "empty.db")
    sqlite3.connect(empty).close()
    conf_e = {"url": f"sqlite:{empty}"}
    assert list_tables(spark, conf_e) == []
    assert load_database_sources(spark, {**conf_e, "table_or_query": "*"}) == {}


def test_table_names_starting_with_select_route_as_tables(spark, tmp_path):
    """Dispatch requires a delimiter after the SELECT keyword, so a table
    legitimately named 'selections' scans as a table instead of being
    executed as broken SQL (review finding, round 4)."""
    import sqlite3

    from packs_spark.io.sources import read_database

    db = str(tmp_path / "sel.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE selections (id INTEGER)")
    con.executemany("INSERT INTO selections VALUES (?)", [(1,), (2,)])
    con.commit()
    con.close()

    df = read_database(
        spark, {"url": f"sqlite:{db}", "table_or_query": "selections"}
    )
    assert df.count() == 2
    # a real query through the same dispatch still executes as SQL
    q = read_database(
        spark,
        {"url": f"sqlite:{db}",
         "table_or_query": "SELECT id FROM selections WHERE id > 1"},
    )
    assert q.count() == 1


def _jobs(spark, group, fn):
    """(result of ``fn()``, Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_launches_no_job(spark, tmp_path):
    """The first read infers the parquet schema with a job; a read of the
    same, unchanged file reuses that schema and launches none."""
    spark.range(5).selectExpr("id", "id * 2 AS twice").write.parquet(
        str(tmp_path / "t.parquet"))
    first, n_first = _jobs(spark, "load-first",
                           lambda: registry.load(spark, str(tmp_path), "t"))
    again, n_again = _jobs(spark, "load-again",
                           lambda: registry.load(spark, str(tmp_path), "t"))
    assert n_first >= 1 and n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("id", "'x' AS added").write.mode(
        "overwrite").parquet(path)
    df, n = _jobs(spark, "load-rewritten", lambda: read_parquet(spark, path))
    assert n >= 1 and df.columns == ["id", "added"]
    assert sorted(df.collect()) == [(0, "x"), (1, "x"), (2, "x")]


def test_partitioned_directory_keeps_its_partition_column(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.range(6).selectExpr("id", "id % 2 AS key").write.partitionBy(
        "key").parquet(path)
    first = read_parquet(spark, path)
    again, n = _jobs(spark, "load-partitioned",
                     lambda: load_source(spark, {"type": "parquet",
                                                 "path": path}))
    assert n == 0
    assert again.schema == first.schema and again.columns == ["id", "key"]
    assert sorted(again.collect()) == [(i, i % 2) for i in range(6)]
