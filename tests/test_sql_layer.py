"""Druid SQL surface on Spark SQL (M5): function registry + rewriter +
information schema."""

import pytest


@pytest.fixture(scope="module", autouse=True)
def _register(engine):
    from druid_spark.functions.register import register_druid_functions
    assert register_druid_functions(engine.spark) > 40
    engine.create_system_views()


def one(engine, expr, **kw):
    return engine.sql(f"SELECT {expr} AS x").collect()[0]["x"]


def test_time_functions(engine):
    assert str(one(engine, "TIME_FLOOR(TIMESTAMP '2024-03-15 13:47:21', 'P1D')")) \
        == "2024-03-15 00:00:00"
    assert str(one(engine, "TIME_FLOOR(TIMESTAMP '2024-03-15 13:47:21', 'PT15M')")) \
        == "2024-03-15 13:45:00"
    assert str(one(engine, "TIME_CEIL(TIMESTAMP '2024-03-15 13:00:00', 'PT1H')")) \
        == "2024-03-15 13:00:00"
    assert str(one(engine, "TIME_CEIL(TIMESTAMP '2024-03-15 13:00:01', 'PT1H')")) \
        == "2024-03-15 14:00:00"
    assert str(one(engine, "TIME_SHIFT(TIMESTAMP '2024-03-15 00:00:00', 'P1D', -2)")) \
        == "2024-03-13 00:00:00"
    # calendar-period shifts: P1M is a calendar month, not fixed millis
    assert str(one(engine, "TIME_SHIFT(TIMESTAMP '2024-01-31 12:00:00', 'P1M', 1)")) \
        == "2024-02-29 12:00:00"
    assert str(one(engine, "TIME_SHIFT(TIMESTAMP '2024-02-29 00:00:00', 'P1Y', -1)")) \
        == "2023-02-28 00:00:00"
    assert str(one(engine, "TIME_SHIFT(TIMESTAMP '2024-03-15 00:00:00', 'P3M', 2)")) \
        == "2024-09-15 00:00:00"
    # generic calendar floors: P2M buckets on even months since epoch
    assert str(one(engine, "TIME_FLOOR(TIMESTAMP '2024-02-15 13:00:00', 'P2M')")) \
        == "2024-01-01 00:00:00"
    assert str(one(engine, "TIME_FLOOR(TIMESTAMP '2024-06-15 00:00:00', 'P2Y')")) \
        == "2024-01-01 00:00:00"
    # unknown period -> NULL, never a silent 1-day bucket
    assert one(engine, "TIME_SHIFT(TIMESTAMP '2024-03-15 00:00:00', 'PXX', 1)") is None
    assert one(engine, "TIME_EXTRACT(TIMESTAMP '2024-03-15 13:47:21', 'HOUR')") == 13
    assert one(engine, "TIME_IN_INTERVAL(TIMESTAMP '2024-03-15 00:00:00', "
               "'2024-03-01T00:00:00/2024-04-01T00:00:00')") is True
    assert one(engine, "TIMESTAMP_TO_MILLIS(MILLIS_TO_TIMESTAMP(1700000000000))") \
        == 1700000000000


def test_string_functions(engine):
    assert one(engine, "STRPOS('abcdef', 'cd')") == 3
    assert one(engine, "TEXTCAT('a', 'b')") == "ab"
    assert one(engine, "CONTAINS_STRING('hello', 'ell')") is True
    assert one(engine, "ICONTAINS_STRING('HeLLo', 'hell')") is True
    assert one(engine, "PARSE_LONG('42')") == 42
    assert one(engine, "SAFE_DIVIDE(10.0, 0.0)") is None
    assert one(engine, "DECODE_BASE64_UTF8('aGVsbG8=')") == "hello"
    assert one(engine, "HUMAN_READABLE_BINARY_BYTE_FORMAT(1536)") == "1.50 KiB"


def test_array_mv_functions(engine):
    assert one(engine, "ARRAY_LENGTH(ARRAY('a','b','c'))") == 3
    assert one(engine, "MV_OFFSET(ARRAY('a','b','c'), 1)") == "b"
    assert one(engine, "ARRAY_ORDINAL(ARRAY('a','b','c'), 1)") == "a"
    assert one(engine, "ARRAY_OFFSET_OF(ARRAY('a','b','c'), 'b')") == 1
    assert one(engine, "ARRAY_OFFSET_OF(ARRAY('a'), 'z')") is None
    assert one(engine, "MV_CONTAINS(ARRAY('a','b'), 'a')") is True
    assert one(engine, "ARRAY_OVERLAP(ARRAY('a'), ARRAY('a','z'))") is True
    assert one(engine, "ARRAY_SLICE(ARRAY('a','b','c','d'), 1, 3)") == ["b", "c"]
    assert one(engine, "ARRAY_TO_STRING(ARRAY('a','b'), '-')") == "a-b"
    # separator is a REGEX with Java trailing-empty trimming
    # (reference StringToArrayFunction — Function.java:3612 uses
    # String.split): '.' matches every char → all-empty → []
    assert one(engine, "STRING_TO_ARRAY('a.b.c', '.')") == []
    assert one(engine, "STRING_TO_ARRAY('a.b.c', '[.]')") == \
        ["a", "b", "c"]
    assert one(engine, "STRING_TO_ARRAY('x|y|z', '\\|')") == \
        ["x", "y", "z"]
    # linear interpolation at rank q*(n-1): 0.5*3=1.5 -> 2 + 0.5*(3-2)
    assert one(engine, "ARRAY_QUANTILE(ARRAY(1.0d, 2.0d, 3.0d, 4.0d), 0.5)") == 2.5
    assert one(engine, "ARRAY_QUANTILE(ARRAY(1.0d, 2.0d, 3.0d), 0.5)") == 2.0
    import math
    assert math.isnan(one(engine, "ARRAY_QUANTILE(ARRAY(1.0d, 2.0d), 1.5)"))
    assert one(engine, "SCALAR_IN_ARRAY('x', ARRAY('x','y'))") is True


def test_json_bitwise_ip(engine):
    assert one(engine, """JSON_VALUE('{"k": 69}', '$.k')""") == "69"
    assert one(engine, "BITWISE_AND(12, 10)") == 8
    assert one(engine, "BITWISE_SHIFT_LEFT(1, 4)") == 16
    # IEEE-754 reinterpretation, not numeric cast: doubleToLongBits(2.0)
    assert one(engine, "BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(2.0)") \
        == 4611686018427387904
    assert one(engine,
               "BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(4611686018427387904)") == 2.0
    assert one(engine, "BITWISE_CONVERT_DOUBLE_TO_LONG_BITS("
               "CAST(NULL AS DOUBLE))") is None
    # regression (r13): a NULL sibling row used to push the int64 Arrow
    # batch through float64 pandas, rounding low-order bits of patterns
    # beyond 2^53 — 4608218246714312622 is doubleToLongBits(1.23)
    rows = engine.sql("""
        SELECT BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(b) AS d
        FROM (SELECT 4608218246714312622 AS b
              UNION ALL SELECT CAST(NULL AS BIGINT)) t ORDER BY d
    """).collect()
    assert [r["d"] for r in rows] == [None, 1.23]
    assert one(engine, "IPV4_PARSE('192.168.0.1')") == 3232235521
    assert one(engine, "IPV4_STRINGIFY(3232235521)") == "192.168.0.1"


def test_aggregate_rewrites(engine):
    rows = engine.sql("""
        SELECT event_type,
               EARLIEST(value) AS first_v,
               LATEST(value) AS last_v,
               APPROX_COUNT_DISTINCT_DS_HLL(user_id) AS approx_users
        FROM events GROUP BY event_type ORDER BY event_type LIMIT 2
    """).collect()
    assert len(rows) == 2
    assert rows[0]["approx_users"] > 0


def test_regexp_extract_druid_semantics(engine):
    assert one(engine, "REGEXP_EXTRACT('abc123', '[0-9]+')") == "123"
    assert one(engine, "REGEXP_EXTRACT('abcdef', '[0-9]+')") is None


def test_full_druid_sql_query(engine):
    rows = engine.sql("""
        SELECT TIME_FLOOR(__time, 'P1D') AS d,
               event_type,
               COUNT(*) AS n,
               SAFE_DIVIDE(SUM(value), COUNT(*)) AS avg_v
        FROM events
        WHERE TIME_IN_INTERVAL(__time,
              '2024-01-01T00:00:00/2024-01-08T00:00:00')
          AND ICONTAINS_STRING(event_type, 'C')
        GROUP BY 1, 2 ORDER BY d, event_type
    """).collect()
    assert rows
    assert all("c" in r["event_type"] for r in rows)


def test_information_schema(engine):
    rows = engine.sql("""
        SELECT COLUMN_NAME, DATA_TYPE FROM information_schema_columns
        WHERE TABLE_NAME = 'events' ORDER BY ORDINAL_POSITION
    """).collect()
    names = [r["COLUMN_NAME"] for r in rows]
    assert "event_type" in names and "__time" in names


def test_sql_lookup_function(spark):
    """SQL LOOKUP(col, 'name') over the engine lookup registry
    (QueryLookupOperatorConversion)."""
    from druid_spark import DruidSparkEngine
    from pyspark.sql import functions as F

    e = DruidSparkEngine(spark)
    e.catalog.register_table("t", spark.createDataFrame(
        [("0",), ("1",), ("9",)], ["rk"]))
    e.catalog.register_lookup("region_names", {"0": "AFRICA", "1": "AMERICA"})
    rows = {r["rk"]: r["nm"] for r in e.sql(
        "SELECT rk, LOOKUP(rk, 'region_names') AS nm FROM t").collect()}
    assert rows == {"0": "AFRICA", "1": "AMERICA", "9": None}
    # registry change is picked up on the next sql() call
    e.catalog.register_lookup("region_names",
                              {"0": "AFRICA", "1": "AMERICA", "9": "NOWHERE"})
    rows = {r["rk"]: r["nm"] for r in e.sql(
        "SELECT rk, LOOKUP(rk, 'region_names') AS nm FROM t").collect()}
    assert rows["9"] == "NOWHERE"


def test_sql_lookup_large_broadcast_join(spark):
    """A 50k-entry lookup exceeds SQL_LOOKUP_INLINE_MAX: its LOOKUP()
    arm must plan as a broadcast hash join against the lookup view (the
    reference's broadcast LookupExtractor probe), not a multi-megabyte
    inlined map literal, and still return correct values — including a
    mixed query touching a small (inlined) lookup too."""
    from druid_spark import DruidSparkEngine

    e = DruidSparkEngine(spark)
    e.catalog.register_table("tbig", spark.createDataFrame(
        [(str(i),) for i in range(0, 2000, 7)], ["rk"]))
    e.catalog.register_lookup("big", {str(i): f"val{i}" for i in range(50_000)})
    e.catalog.register_lookup("small", {"0": "zero"})
    df = e.sql("SELECT rk, LOOKUP(rk, 'big') AS nm, "
               "LOOKUP(rk, 'small') AS sm FROM tbig")
    rows = df.collect()  # run first: AQE finalizes the join strategy
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(rows) == len(range(0, 2000, 7))
    assert all(r["nm"] == f"val{r['rk']}" for r in rows)
    assert {r["sm"] for r in rows} == {"zero", None}
    # miss path: keys outside the lookup produce NULL
    e.catalog.register_table("tmiss", spark.createDataFrame(
        [("999999",)], ["rk"]))
    assert e.sql("SELECT LOOKUP(rk, 'big') AS nm FROM tmiss"
                 ).collect()[0]["nm"] is None


def test_unnest_rewrite():
    from druid_spark.functions.sqlshim import _rewrite_unnest
    out = _rewrite_unnest(
        "SELECT v FROM t CROSS JOIN UNNEST(MV_TO_ARRAY(tags)) AS u(v)")
    # MVD unnest uses EXPLODE_OUTER: a null MVD row emits one null
    # element (qaUnnest mv_sql_col_datatype_mv goldens)
    assert "LATERAL VIEW EXPLODE_OUTER((tags)) u AS v" in out
    out = _rewrite_unnest(
        "SELECT v FROM t CROSS JOIN UNNEST(arr) AS v WHERE v > 1")
    assert "LATERAL VIEW EXPLODE(arr) __unnest AS v" in out
    # untouched when there's no UNNEST
    assert _rewrite_unnest("SELECT 1") == "SELECT 1"


def test_truncate_ipv4_match_json_merge(engine):
    r = engine.sql("""SELECT TRUNCATE(3.759, 1) AS a, TRUNCATE(-3.759) AS b,
                          TRUNC(15.5, -1) AS c,
                          IPV4_MATCH('192.168.3.4', '192.168.0.0/16') AS m1,
                          IPV4_MATCH('10.1.2.3', '192.168.0.0/16') AS m2,
                          JSON_MERGE('{"a": 1, "b": 2}', '{"b": 9, "c": 3}')
                            AS j""").collect()[0]
    assert r["a"] == 3.7 and r["b"] == -3.0 and r["c"] == 10.0
    assert r["m1"] is True and r["m2"] is False
    import json
    assert json.loads(r["j"]) == {"a": 1, "b": 9, "c": 3}


def test_parse_long_base64_string_format(engine):
    r = engine.sql("""SELECT PARSE_LONG('ff', 16) AS h,
                             PARSE_LONG('-42') AS d,
                             DECODE_BASE64_UTF8('aGVsbG8=') AS s,
                             STRING_FORMAT('%s=%d', 'x', 7) AS f""").collect()[0]
    assert r["h"] == 255 and r["d"] == -42
    assert r["s"] == "hello" and r["f"] == "x=7"


def test_time_fn_optional_args(engine):
    r = engine.sql("""SELECT
        TIME_PARSE('15/03/2024', 'dd/MM/yyyy') AS p2,
        TIME_PARSE('2024-03-15 01:00:00', 'yyyy-MM-dd HH:mm:ss',
                   'America/Los_Angeles') AS p3,
        TIME_EXTRACT(TIMESTAMP '2024-03-15 03:30:00', 'HOUR',
                     'America/New_York') AS h_ny,
        TIME_FLOOR(TIMESTAMP '2024-01-15 10:00:00', 'P1D', NULL,
                   'America/Los_Angeles') AS f_la,
        TIME_SHIFT(TIMESTAMP '2024-03-15 00:00:00', 'P1D', 2,
                   'America/Los_Angeles') AS sh""").collect()[0]
    assert str(r["p2"]).startswith("2024-03-15")
    assert str(r["p3"]) == "2024-03-15 08:00:00"   # PDT, UTC-7
    assert r["h_ny"] == 23                          # 03:30 UTC = 23:30 EDT
    assert str(r["f_la"]) == "2024-01-15 08:00:00"  # LA midnight in UTC
    assert str(r["sh"]) == "2024-03-17 00:00:00"


def test_time_ceil_calendar_and_parse_iso(engine):
    r = engine.sql("""SELECT
        TIME_CEIL(TIMESTAMP '2024-02-15 10:00:00', 'P1M') AS cm,
        TIME_CEIL(TIMESTAMP '2024-03-01 00:00:00', 'P1M') AS aligned,
        TIME_CEIL(TIMESTAMP '2024-02-15 10:00:00', 'P1Y') AS cy,
        TIME_CEIL(TIMESTAMP '2024-02-15 10:20:00', 'PT1H') AS ch,
        TIME_PARSE('2024-03-15T06:30:00Z') AS pz""").collect()[0]
    assert str(r["cm"]) == "2024-03-01 00:00:00"
    assert str(r["aligned"]) == "2024-03-01 00:00:00"
    assert str(r["cy"]) == "2025-01-01 00:00:00"
    assert str(r["ch"]) == "2024-02-15 11:00:00"
    assert str(r["pz"]) == "2024-03-15 06:30:00"


def test_time_in_interval_iso_z(engine):
    r = engine.sql("""SELECT
        TIME_IN_INTERVAL(TIMESTAMP '2024-01-05 00:00:00',
            '2024-01-01T00:00:00Z/2024-02-01T00:00:00Z') AS inside,
        TIME_IN_INTERVAL(TIMESTAMP '2024-03-05 00:00:00',
            '2024-01-01T00:00:00Z/2024-02-01T00:00:00Z') AS outside
        """).collect()[0]
    assert r["inside"] is True and r["outside"] is False


def test_explain_plan_for(engine):
    """EXPLAIN PLAN FOR <q> (DruidPlanner explain;
    CalciteQueryTest testExplain*): PLAN/RESOURCES/ATTRIBUTES row,
    resources list the referenced datasources."""
    df = engine.sql("""
        EXPLAIN PLAN FOR
        SELECT n_name, count(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY n_name""")
    assert df.columns == ["PLAN", "RESOURCES", "ATTRIBUTES"]
    r = df.collect()[0]
    assert "nation" in r["RESOURCES"] and "region" in r["RESOURCES"]
    assert "customer" not in r["RESOURCES"]
    assert "Physical Plan" in r["PLAN"]
    assert "SELECT" in r["ATTRIBUTES"]


def test_ipv6_match(engine):
    """IPV6_MATCH (IPv6AddressMatchExprMacro): '::' expansion and
    non-nibble-aligned prefix lengths."""
    r = engine.sql("""SELECT
        IPV6_MATCH('2001:db8:0:0:0:0:0:1', '2001:db8::/32') AS full_form,
        IPV6_MATCH('fe80::1', 'fe80::/10') AS ten_bits,
        IPV6_MATCH('fec0::1', 'fe80::/10') AS ten_bits_out,
        IPV6_MATCH('::', '::/0') AS zero_prefix""").collect()[0]
    assert r["full_form"] is True and r["ten_bits"] is True
    assert r["ten_bits_out"] is False and r["zero_prefix"] is True


def test_sketch_sql_names_modes(spark, engine):
    """Sketch SQL names are mode-aware: exact engines compile
    APPROX_COUNT_DISTINCT_DS_* to true COUNT(DISTINCT); sketch engines
    build real Datasketches HLL state (hll_sketch_agg) and estimate.
    DS_HLL always yields mergeable BINARY state that
    HLL_SKETCH_ESTIMATE finalizes."""
    import os
    from druid_spark import DruidSparkEngine

    sf = os.environ.get("DRUID_SPARK_TEST_SF", "/root/testdata/sf0.001")
    sk = DruidSparkEngine(spark, data_dir=sf, exact_approx=False)
    sql = ("SELECT APPROX_COUNT_DISTINCT_DS_HLL(user_id) AS u "
           "FROM events")
    exact = engine.sql(sql).first()["u"]
    est = sk.sql(sql).first()["u"]
    assert abs(est - exact) <= max(0.1 * exact, 2)
    # sketch state round trip: DS_HLL -> binary, estimate finalizes
    row = sk.sql("SELECT HLL_SKETCH_ESTIMATE(DS_HLL(user_id)) AS e, "
                 "DS_HLL(user_id) AS state FROM events").first()
    assert isinstance(row["state"], (bytes, bytearray))
    assert abs(row["e"] - exact) <= max(0.1 * exact, 2)


def test_sql_lookup_replace_missing(spark):
    """3-arg LOOKUP(expr, name, replaceMissingValueWith)
    (QueryLookupOperatorConversion.java): missing keys take the
    replacement instead of NULL."""
    from druid_spark import DruidSparkEngine

    e = DruidSparkEngine(spark)
    e.catalog.register_table("t3", spark.createDataFrame(
        [("0",), ("9",)], ["rk"]))
    e.catalog.register_lookup("rn3", {"0": "AFRICA"})
    rows = {r["rk"]: r["nm"] for r in e.sql(
        "SELECT rk, LOOKUP(rk, 'rn3', 'UNKNOWN') AS nm FROM t3").collect()}
    assert rows == {"0": "AFRICA", "9": "UNKNOWN"}


def test_redact_pii_tokens(spark):
    from druid_spark.datapipe.redact import redact_pii, pii_counts
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("write to bob@x.io from 10.1.2.3 ssn 123-45-6789 "
          "tel 555-123-4567 card 4111111111111111 done",)], ["t"])
    out = df.select(
        redact_pii(F.col("t")).alias("r"),
        *[c.alias(k) for k, c in pii_counts(F.col("t")).items()]).first()
    assert out["r"] == ("write to [EMAIL] from [IP] ssn [SSN] "
                        "tel [PHONE] card [CARD] done")
    assert (out["email"], out["ipv4"], out["ssn"],
            out["phone"], out["card"]) == (1, 1, 1, 1, 1)


def test_lookup_namespace_uri_load_and_poll(spark, tmp_path):
    """URI extraction namespace (UriExtractionNamespace.java:65): load
    csv/simpleJson lookups from files, version-gated reload, poller
    swap visible through SQL LOOKUP() on the next sql() call."""
    from druid_spark import DruidSparkEngine
    from druid_spark.lookups import LookupPoller, load_lookup

    e = DruidSparkEngine(spark)
    e.catalog.register_table("tl", spark.createDataFrame(
        [("0",), ("1",)], ["rk"]))

    csv = tmp_path / "regions.csv"
    csv.write_text("k,v\n0,AFRICA\n1,AMERICA\n")
    m = load_lookup(e, "regions_uri", str(csv), fmt="csv")
    assert m == {"0": "AFRICA", "1": "AMERICA"}
    # unchanged source -> no reload (version-gated cache swap)
    assert load_lookup(e, "regions_uri", str(csv), fmt="csv") is None
    rows = {r["rk"]: r["nm"] for r in e.sql(
        "SELECT rk, LOOKUP(rk, 'regions_uri') AS nm FROM tl").collect()}
    assert rows == {"0": "AFRICA", "1": "AMERICA"}

    # source change -> poll_once reloads and SQL sees the new map
    import os
    csv.write_text("k,v\n0,AFRIQUE\n1,AMERICA\n")
    os.utime(csv, ns=(1, 1))  # force a distinct mtime stamp
    p = LookupPoller(e, "regions_uri", str(csv), period_sec=3600,
                     fmt="csv")
    assert p.poll_once() is True and p.loads == 1
    assert p.poll_once() is False  # unchanged again
    rows = {r["rk"]: r["nm"] for r in e.sql(
        "SELECT rk, LOOKUP(rk, 'regions_uri') AS nm FROM tl").collect()}
    assert rows["0"] == "AFRIQUE"

    # simpleJson parse spec: one {"key": "value"} object per line
    sj = tmp_path / "names.json"
    sj.write_text('{"a": "x"}\n{"b": "y"}\n')
    m = load_lookup(e, "names_sj", str(sj), fmt="simpleJson")
    assert m == {"a": "x", "b": "y"}


def test_double_quoted_identifiers(engine):
    """Calcite-style double-quoted identifiers (the reference's SQL
    dialect) map to Spark backticks; literals with double quotes inside
    single-quoted strings survive (sqlshim._dq_idents_to_backticks)."""
    rows = engine.sql(
        'SELECT "r_name" AS "Region Name", \'say "hi"\' AS q '
        'FROM "region" ORDER BY "r_name" LIMIT 2').collect()
    assert rows[0]["Region Name"] == "AFRICA"
    assert rows[0]["q"] == 'say "hi"'


def test_group_by_empty_parens(engine):
    """GROUP BY () (Calcite empty grouping = global aggregate)."""
    rows = engine.sql(
        "SELECT count(*) AS n, max(r_regionkey) AS mx "
        "FROM region GROUP BY ()").collect()
    assert rows[0]["n"] == 5 and rows[0]["mx"] == 4


def test_multi_statement_set_context(engine):
    """Leading SET statements become query context
    (SqlStatementFactory multi-statement form;
    testMultiStatementSetsContext): useApproximateCountDistinct flips
    the APPROX_COUNT_DISTINCT compile mode per statement."""
    exact = engine.sql(
        "SET useApproximateCountDistinct = false; "
        "SELECT APPROX_COUNT_DISTINCT(n_nationkey) AS n FROM nation"
    ).collect()[0]["n"]
    assert exact == 25  # exact mode: COUNT(DISTINCT)
    approx = engine.sql(
        "SET useApproximateCountDistinct = true; "
        "SET sqlQueryId = 'abc'; "
        "SELECT APPROX_COUNT_DISTINCT(n_nationkey) AS n FROM nation"
    ).collect()[0]["n"]
    assert 20 <= approx <= 30  # HLL estimate
    # plain statements are unaffected
    assert engine.sql("SELECT 1 AS x").collect()[0]["x"] == 1


def test_bloom_filter_sql_forms(engine):
    """BLOOM_FILTER SQL aggregate + BLOOM_FILTER_TEST probe
    (BloomFilterSqlAggregator / BloomFilterOperatorConversion).
    Engine-internal sparse-bitset holder; same seeded hashing as the
    native `bloom` aggregator, so SQL builds and native probes line
    up. The probe must exactly reproduce the semi-join here (m=2^18,
    few hundred inserted keys -> FP probability ~1e-11)."""
    got = engine.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
        WHERE BLOOM_FILTER_TEST(o_custkey,
              (SELECT BLOOM_FILTER(c_custkey, 2000) FROM customer
               WHERE c_mktsegment = 'BUILDING'))""").first()["n"]
    want = engine.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')""").first()["n"]
    assert got == want and want > 0
    # a probe value that was never inserted misses
    miss = engine.sql("""
        SELECT BLOOM_FILTER_TEST(-12345,
              (SELECT BLOOM_FILTER(c_custkey, 2000) FROM customer)) AS hit
    """).first()["hit"]
    assert miss is False
    # NULL semantics (BloomKFilter.addBytes/testBytes(null)): a null
    # is RECORDED by the build and a null probe matches iff one was
    # recorded — not unconditionally false
    row = engine.sql("""
        SELECT BLOOM_FILTER_TEST(CAST(NULL AS STRING),
                 (SELECT BLOOM_FILTER(x, 10)
                  FROM (SELECT CAST(NULL AS STRING) AS x))) AS null_hit,
               BLOOM_FILTER_TEST(CAST(NULL AS STRING),
                 (SELECT BLOOM_FILTER(x, 10)
                  FROM (SELECT 'a' AS x))) AS null_miss""").first()
    assert row["null_hit"] is True and row["null_miss"] is False


def test_tuple_doubles_sql_forms(engine):
    """DS_TUPLE_DOUBLES SQL family (ArrayOfDoublesSketch SQL
    operators), exact mode: ESTIMATE = distinct keys,
    METRICS_SUM_ESTIMATE = per-metric totals."""
    row = engine.sql("""
        SELECT DS_TUPLE_DOUBLES_ESTIMATE(
                 DS_TUPLE_DOUBLES(n_regionkey, n_nationkey)) AS est,
               DS_TUPLE_DOUBLES_METRICS_SUM_ESTIMATE(
                 DS_TUPLE_DOUBLES(n_regionkey, n_nationkey, 4096)) AS sums,
               DS_TUPLE_DOUBLES(n_regionkey, n_nationkey) AS bare
        FROM nation""").first()
    assert row["est"] == 5.0          # 5 distinct region keys
    assert row["sums"] == [300.0]     # sum 0..24
    assert row["bare"] == 5.0         # standalone finalizes to estimate


def test_sketch_debug_strings(engine):
    """HLL_SKETCH_TO_STRING / DS_QUANTILE_SUMMARY summaries."""
    row = engine.sql("""
        SELECT HLL_SKETCH_TO_STRING(DS_HLL(r_name)) AS h,
               DS_QUANTILE_SUMMARY(
                 DS_QUANTILES_SKETCH(r_regionkey)) AS q
        FROM region""").first()
    assert row["h"] == "### HLL SKETCH SUMMARY: estimate: 5"
    assert row["q"].startswith("### Quantiles sketch summary: n: 5")
    assert "min: 0" in row["q"] and "max: 4" in row["q"]


def test_table_append(engine):
    """TABLE(APPEND('a','b')) schema-merging union
    (TableAppendMacro / CalciteTableAppendTest): ordered column
    union, typed NULL padding, unknown-name and empty-args errors."""
    row = engine.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(n_name) AS BIGINT) AS nn,
               CAST(COUNT(r_name) AS BIGINT) AS nr
        FROM TABLE(APPEND('nation', 'region')) u""").first()
    assert (row["n"], row["nn"], row["nr"]) == (30, 25, 5)
    # single table degenerates to the table itself
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM TABLE(APPEND('region')) u"
    ).first()["n"] == 5
    import pytest as _pytest
    with _pytest.raises(ValueError):
        engine.sql("SELECT 1 FROM TABLE(APPEND()) u")
    with _pytest.raises(KeyError):
        engine.sql("SELECT 1 FROM TABLE(APPEND('region', 'nope')) u")
    # least-restrictive type merge (TableAppendMacro): INT + DOUBLE
    # widens to DOUBLE regardless of argument order — first-seen-wins
    # would CAST 0.5 to 0 silently. Hyphenated datasource names must
    # be backtick-quoted in the generated per-table SELECTs.
    sp = engine.spark
    engine.catalog.register_table(
        "ta-int", sp.range(2).selectExpr("CAST(id AS INT) AS x"))
    engine.catalog.register_table(
        "ta-dbl", sp.range(2).selectExpr("CAST(id AS DOUBLE)+0.5 AS x"))
    for order in ("'ta-int','ta-dbl'", "'ta-dbl','ta-int'"):
        got = engine.sql(
            f"SELECT x FROM TABLE(APPEND({order})) ORDER BY x")
        assert got.schema["x"].dataType.simpleString() == "double"
        assert [r["x"] for r in got.collect()] == [0.0, 0.5, 1.0, 1.5]


def test_rewrite_scan_quote_awareness(engine):
    """Shim scanners must ignore brackets/parens/commas/'?' inside
    string literals: LTRIM/RTRIM with ']'/')' trim-chars previously
    terminated the arg scan early and skipped the Druid->Spark
    argument-order rewrite (silently reversed semantics)."""
    row = engine.sql(
        "SELECT LTRIM(']]abc', ']') AS a, RTRIM('abc))', ')') AS b, "
        "LTRIM('((xy', '(') AS c, TRIM(BOTH ']' FROM ']z]') AS d"
    ).first()
    assert (row["a"], row["b"], row["c"], row["d"]) == \
        ("abc", "abc", "xy", "z")


def test_time_floor_null_origin_and_origin_tz(engine):
    """TIME_FLOOR(ts, period, NULL) equals the 2-arg form (legal Druid
    spelling), and the 4-arg origin+tz form keeps the grid on local
    wall-clock boundaries across a DST transition instead of silently
    dropping the timezone (TimestampFloorExprMacro origin semantics)."""
    row = engine.sql("""
        SELECT TIME_FLOOR(TIMESTAMP '2024-03-10 10:30:00', 'PT1H', NULL)
                 AS null_origin,
               TIME_FLOOR(TIMESTAMP '2024-03-11 05:30:00', 'P1D',
                          TIMESTAMP '2024-01-01',
                          'America/Los_Angeles') AS origin_tz""").first()
    assert str(row["null_origin"]) == "2024-03-10 10:00:00"
    # 2024-03-11 05:30 UTC = 2024-03-10 22:30 PDT; the origin maps to
    # 16:00 local wall time, so the floor lands on 2024-03-10 16:00 PDT
    # = 23:00 UTC (a fixed-epoch grid that ignored tz would give 00:00)
    assert str(row["origin_tz"]) == "2024-03-10 23:00:00"


def test_sql_lookup_two_engines_same_session(spark):
    """The LOOKUP temp function is session-wide: a second engine on the
    same SparkSession must re-register its own arms on use, and the
    first engine must recover its arms afterwards (stale-shared-state
    guard, like the temp-view stamp)."""
    from druid_spark import DruidSparkEngine
    a = DruidSparkEngine(spark)
    a.catalog.register_table(
        "lk_t", spark.createDataFrame([("x",)], ["k"]))
    a.catalog.register_lookup("lk_a", {"x": "from_a"})
    assert a.sql("SELECT LOOKUP(k, 'lk_a') AS v FROM lk_t") \
        .first()["v"] == "from_a"
    b = DruidSparkEngine(spark)
    b.catalog.register_table(
        "lk_t", spark.createDataFrame([("x",)], ["k"]))
    b.catalog.register_lookup("lk_b", {"x": "from_b"})
    assert b.sql("SELECT LOOKUP(k, 'lk_b') AS v FROM lk_t") \
        .first()["v"] == "from_b"
    # engine A's next sql() must see ITS lookups again, not B's
    assert a.sql("SELECT LOOKUP(k, 'lk_a') AS v FROM lk_t") \
        .first()["v"] == "from_a"


def test_sql_timezone_context(engine):
    """SET sqlTimeZone / context.sqlTimeZone (PlannerContext session
    timezone): tz-less TIME_* operators, EXTRACT, and DATE_TRUNC
    evaluate in the session zone. 2024-01-15 03:00 UTC is
    2024-01-14 19:00 in America/Los_Angeles."""
    ts = "TIMESTAMP '2024-01-15 03:00:00'"
    r = engine.sql(
        "SET sqlTimeZone = 'America/Los_Angeles'; "
        f"SELECT CAST(TIME_FLOOR({ts}, 'P1D') AS VARCHAR) AS fl, "
        f"       CAST(DATE_TRUNC('day', {ts}) AS VARCHAR) AS dtr, "
        f"       EXTRACT(HOUR FROM {ts}) AS hr, "
        f"       EXTRACT(DAY FROM {ts}) AS dom, "
        f"       TIME_FORMAT({ts}, 'yyyy-MM-dd HH:mm') AS fmt"
    ).collect()[0]
    # LA midnight of Jan 14 == 08:00 UTC (UTC instants out, like the
    # engine's time model)
    assert r["fl"] == "2024-01-14 08:00:00"
    assert r["dtr"] == "2024-01-14 08:00:00"
    assert r["hr"] == 19 and r["dom"] == 14
    assert r["fmt"] == "2024-01-14 19:00"
    # without the SET everything stays UTC
    r2 = engine.sql(
        f"SELECT CAST(TIME_FLOOR({ts}, 'P1D') AS VARCHAR) AS fl, "
        f"       EXTRACT(HOUR FROM {ts}) AS hr").collect()[0]
    assert r2["fl"] == "2024-01-15 00:00:00" and r2["hr"] == 3
    # grouping in the session zone splits days at local midnight
    rows = engine.sql(
        "SET sqlTimeZone = 'America/Los_Angeles'; "
        "SELECT CAST(TIME_FLOOR(ts, 'P1D') AS VARCHAR) AS d, "
        "COUNT(*) AS n FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-02' "
        "AND ts < TIMESTAMP '2024-01-03' GROUP BY 1 ORDER BY 1"
    ).collect()
    # a UTC day straddles two LA days
    assert [r["d"] for r in rows] == ["2024-01-01 08:00:00",
                                      "2024-01-02 08:00:00"]


def test_hof_over_udf_of_aggregates(engine):
    """Spark 4.1 analyzer hazard (round 6): a higher-order function
    wrapping a SQL UDF whose args contain aggregates is silently
    dropped or corrupted (array_sort came back unsorted, transform
    all-NULL). The shim inlines every array-returning alias UDF to
    its builtin, so these shapes compile to pure builtins and behave
    correctly."""
    row = engine.sql("""
        SELECT array_sort(ARRAY_CONCAT(
                 ARRAY_AGG(DISTINCT l_linestatus),
                 ARRAY_AGG(DISTINCT l_returnflag))) AS sorted_cat,
               transform(MV_CONCAT(ARRAY_AGG(DISTINCT l_linestatus),
                                   ARRAY_AGG(DISTINCT l_linestatus)),
                         x -> lower(x)) AS lowered,
               array_sort(MV_APPEND(
                 ARRAY_AGG(DISTINCT l_linestatus), 'z')) AS appended,
               array_sort(MV_PREPEND(
                 'a', ARRAY_AGG(DISTINCT l_linestatus))) AS prepended,
               ARRAY_SLICE(array_sort(ARRAY_AGG(DISTINCT
                 l_returnflag)), 0, 2) AS sliced
        FROM lineitem""").collect()[0]
    assert row["sorted_cat"] == ["A", "F", "N", "O", "R"]
    assert sorted(row["lowered"]) == ["f", "f", "o", "o"]
    assert row["appended"] == ["F", "O", "z"]
    assert row["prepended"] == ["F", "O", "a"]
    assert row["sliced"] == ["A", "N"]


def test_lookup_schema_table(spark):
    """Round 7: the reference's lookup schema (sql/.../calcite/schema/
    LookupSchema.java) — every registered lookup is queryable as the
    two-column (k, v) table `lookup.<name>`, joinable like the
    CalciteJoinQueryTest lookyloo goldens."""
    from druid_spark import DruidSparkEngine
    e = DruidSparkEngine(spark, data_dir="/root/testdata/sf0.001",
                         exact_approx=True)
    e.catalog.register_lookup("lookyloo", {"0": "xa", "1": "xabc"})
    rows = e.sql("SELECT k, v FROM lookup.lookyloo ORDER BY k").collect()
    assert [(r["k"], r["v"]) for r in rows] == [("0", "xa"),
                                                ("1", "xabc")]
    # join shape from testFilterAndGroupByLookupUsingJoinOperator
    got = e.sql("""
        SELECT l.v AS rv, COUNT(*) AS n
        FROM nation n INNER JOIN lookup.lookyloo l
          ON CAST(n.n_regionkey AS VARCHAR) = l.k
        GROUP BY l.v ORDER BY l.v""").collect()
    assert [(r["rv"], r["n"]) for r in got] == [("xa", 5), ("xabc", 5)]
    # a string literal containing 'lookup.' survives the rewrite
    lit = e.sql("SELECT 'lookup.lookyloo' AS s").collect()[0]["s"]
    assert lit == "lookup.lookyloo"


def test_sql_current_timestamp_pinned(spark):
    """Round 7: SET sqlCurrentTimestamp pins CURRENT_TIMESTAMP /
    CURRENT_DATE for the statement (PlannerContext — every quidem
    golden replays under a pinned value)."""
    from druid_spark import DruidSparkEngine
    e = DruidSparkEngine(spark, data_dir="/root/testdata/sf0.001",
                         exact_approx=True)
    row = e.sql("""
        SET sqlCurrentTimestamp = '2024-01-15T00:00:00Z';
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CURRENT_DATE AS today
        FROM events
        WHERE __time >= CURRENT_TIMESTAMP - INTERVAL '2' DAY
          AND __time < CURRENT_TIMESTAMP""").collect()[0]
    assert str(row["today"]) == "2024-01-15"
    import datetime as dt
    exact = e.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events
        WHERE __time >= TIMESTAMP '2024-01-13 00:00:00'
          AND __time < TIMESTAMP '2024-01-15 00:00:00'""") \
        .collect()[0]["n"]
    assert row["n"] == exact and exact > 0


def test_sql_schema_follows_catalog_version(spark):
    """The rewrite's schema hints are cached per catalog version:
    re-registering a table that turns a scalar column into an array
    bumps the version, and the very next statement sees the new kind
    (here the array-family scalar auto-wrap, which must stop wrapping
    a column that is now an array)."""
    from druid_spark import DruidSparkEngine
    e = DruidSparkEngine(spark)
    e.catalog.register_table(
        "t_schema_kind", spark.createDataFrame([("a",)], "c string"))
    q = "SELECT ARRAY_LENGTH(c) AS n FROM t_schema_kind"
    assert e.sql(q).collect()[0]["n"] == 1
    e.catalog.register_table(
        "t_schema_kind",
        spark.createDataFrame([(["a", "b", "c"],)], "c array<string>"))
    assert e.sql(q).collect()[0]["n"] == 3
    # only the current version's entries are kept
    assert e._sql_schemas[0] == e.catalog.version


def test_rewrite_schema_is_thread_isolated():
    """Concurrent rewrites each see only the SqlSchema they passed:
    one thread's column is a scalar (auto-wrapped), the other's an
    array (left alone)."""
    import threading

    from druid_spark.functions.sqlshim import SqlSchema, rewrite_druid_sql
    q = "SELECT ARRAY_LENGTH(c) AS n, ARRAY_TO_STRING(c, ',') AS s FROM t"
    schemas = {"scalar": SqlSchema(scalar_cols=frozenset({"c"}),
                                   scalar_types={"c": "string"}),
               "array": SqlSchema(array_elem={"c": "string"})}
    serial = {k: rewrite_druid_sql(q, schema=s) for k, s in schemas.items()}
    assert serial["scalar"] != serial["array"]
    got: dict[str, list[str]] = {k: [] for k in schemas}
    start = threading.Barrier(len(schemas))

    def run(kind):
        start.wait()
        for _ in range(200):
            got[kind].append(rewrite_druid_sql(q, schema=schemas[kind]))

    threads = [threading.Thread(target=run, args=(k,)) for k in schemas]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for kind, outs in got.items():
        assert outs == [serial[kind]] * 200
