"""Cast-matrix unit tests (SURVEY §5.4): every §1.3 row of the
ClickHouse→Spark type mapping, plus cast-plan semantics and predicate
properties (hypothesis)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_table_copier_spark.plans.casting import (
    align,
    clickhouse_type_to_spark,
    common_columns,
)


@pytest.mark.parametrize(
    "ch,expected",
    [
        ("String", T.StringType()),
        ("Int8", T.ByteType()),
        ("Int16", T.ShortType()),
        ("Int32", T.IntegerType()),
        ("Int64", T.LongType()),
        ("Int128", T.DecimalType(38, 0)),
        ("Int256", T.DecimalType(38, 0)),
        ("UInt8", T.ShortType()),
        ("UInt16", T.IntegerType()),
        ("UInt32", T.LongType()),
        ("UInt64", T.DecimalType(38, 0)),
        ("Float32", T.FloatType()),
        ("Float64", T.DoubleType()),
        ("Date", T.DateType()),
        ("DateTime", T.TimestampNTZType()),
        ("UUID", T.StringType()),
        ("IPv4", T.LongType()),
        ("IPv6", T.StringType()),
        ("JSON", T.StringType()),
        ("LowCardinality(String)", T.StringType()),
        ("Nullable(Int32)", T.IntegerType()),
        ("Array(String)", T.ArrayType(T.StringType())),
        ("Array(LowCardinality(String))", T.ArrayType(T.StringType())),
        ("Decimal(18,4)", T.DecimalType(18, 4)),
        ("Nullable(Array(Nullable(Int64)))", T.ArrayType(T.LongType())),
    ],
)
def test_clickhouse_type_mapping(ch, expected):
    assert clickhouse_type_to_spark(ch) == expected


def test_unmapped_type_raises():
    with pytest.raises(ValueError, match="unmapped"):
        clickhouse_type_to_spark("AggregateFunction(sum, UInt64)")


def test_common_columns_source_order(spark):
    src = spark.createDataFrame([(1, "a", 2.0, True)], "k INT, s STRING, d DOUBLE, b BOOLEAN")
    dest = spark.createDataFrame([(True, "a", 5)], "b BOOLEAN, s STRING, k BIGINT")
    # source order preserved (ReturnValuesString semantics), dest-only ignored
    assert common_columns(src, dest) == ["k", "s", "b"]


def test_align_casts_and_semantic(spark):
    src = spark.createDataFrame(
        [(1, "550E8400-E29B-41D4-A716-446655440000", "10.0.0.1", "zz")],
        "k INT, u STRING, ip STRING, junk STRING",
    )
    dest = spark.createDataFrame([], "k BIGINT, u STRING, ip BIGINT")
    out = align(src, dest, semantic={"u": "UUID", "ip": "IPv4"})
    row = out.collect()[0]
    assert out.schema["k"].dataType == T.LongType()
    assert row["u"] == "550e8400-e29b-41d4-a716-446655440000"
    assert row["ip"] == 10 * 16777216 + 1
    assert "junk" not in out.columns


def test_align_invalid_semantic_values(spark):
    src = spark.createDataFrame(
        [("not-a-uuid", "999.1.2.3")], "u STRING, ip STRING"
    )
    dest = spark.createDataFrame([], "u STRING, ip BIGINT")
    row = align(src, dest, semantic={"u": "UUID", "ip": "IPv4"}).collect()[0]
    assert row["u"] == "00000000-0000-0000-0000-000000000000"
    assert row["ip"] is None


def test_align_matches_names_case_insensitively(spark):
    """Upper-cased destination columns (Derby/Oracle) match the source's,
    which keep their spelling and order; the keys lead uncast."""
    src = spark.createDataFrame([(1, "a", 2, "x")], "k INT, Name STRING, qty INT, junk STRING")
    dest = spark.createDataFrame([], "QTY BIGINT, NAME STRING, K BIGINT")
    out = align(src, dest, keys=["k"])
    assert out.dtypes == [("k", "int"), ("Name", "string"), ("qty", "bigint")]
    with pytest.raises(ValueError, match="lacks partition columns"):
        align(src, dest, keys=["junk"])


def test_predicate_any_arity(spark):
    """The reference breaks AND-joining at arity > 2
    (sidefunctions.go:231); the engine must not, at any arity."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_table_copier_spark.plans.partition_spec import (
        PartitionField,
        PartitionSpec,
    )
    from clickhouse_table_copier_spark.plans.predicates import equality_predicate

    df = spark.createDataFrame(
        [(a, b, c, d) for a in (0, 1) for b in (0, 1) for c in (0, 1) for d in (0, 1)],
        "a INT, b INT, c INT, d INT",
    ).cache()

    @settings(max_examples=10, deadline=None)
    @given(
        vals=st.lists(st.integers(min_value=0, max_value=1), min_size=1, max_size=4)
    )
    def check(vals):
        names = ["a", "b", "c", "d"][: len(vals)]
        spec = PartitionSpec.bare(*names)
        got = df.where(equality_predicate(spec, vals)).count()
        expected = 2 ** (4 - len(vals))
        assert got == expected

    check()


def test_align_passthrough_identity(spark):
    src = spark.createDataFrame([(1, "x")], "k INT, s STRING")
    dest = spark.createDataFrame([], "k INT, s STRING")
    out = align(src, dest)
    assert out.schema == src.schema
    assert out.collect() == src.collect()


def test_clickhouse_dialect_functions(spark):
    """The dialect shim: ClickHouse function names evaluate as inlined
    Catalyst expressions with §1.3/§2.6 semantics — and no EvalPython
    stage anywhere (they are SQL scalar functions, not UDFs)."""
    from clickhouse_table_copier_spark.functions.ch_dialect import (
        register_clickhouse_functions,
    )

    names = register_clickhouse_functions(spark)
    assert "toInt32" in names and "formatReadableSize" in names

    row = spark.sql(
        """
        SELECT toInt32(3.9) AS trunc_pos,
               toInt32(-3.9) AS trunc_neg,
               toUInt16(70000.0) AS widened,
               toDate('2026-02-01') AS d,
               toUUIDOrZero('550E8400-E29B-41D4-A716-446655440000') AS u_ok,
               toUUIDOrZero('nope') AS u_zero,
               IPv4NumToString(167772161) AS ip,
               formatReadableSize(1536) AS k15,
               formatReadableSize(1073741824) AS g1,
               cityHash64('abc') = xxhash64('abc') AS hash_role
        """
    ).first()
    assert row["trunc_pos"] == 3 and row["trunc_neg"] == -3
    assert row["widened"] == 70000  # UInt16 input widened to INT, no wrap
    assert str(row["d"]) == "2026-02-01"
    assert row["u_ok"] == "550e8400-e29b-41d4-a716-446655440000"
    assert row["u_zero"] == "00000000-0000-0000-0000-000000000000"
    assert row["ip"] == "10.0.0.1"
    assert row["k15"] == "1.50 KiB" and row["g1"] == "1.00 GiB"
    assert row["hash_role"] is True

    plan = (
        spark.sql("SELECT formatReadableSize(123456789) AS s")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan

    row4 = spark.sql(
        """
        SELECT intDiv(-7, 2) AS idiv,
               splitByChar(',', 'a,b,,c') AS parts,
               splitByChar('.', '10.0.0.1') AS dotted,
               empty('') AS e1, notEmpty('x') AS ne1,
               lengthUTF8('héllo') AS chars,
               lowerUTF8('ÉT') AS lo, upperUTF8('éz') AS up
        """
    ).first()
    # ClickHouse intDiv truncates toward zero for mixed signs... Spark's
    # `div` also truncates toward zero: -7 div 2 = -3
    assert row4["idiv"] == -3
    assert row4["parts"] == ["a", "b", "", "c"]
    assert row4["dotted"] == ["10", "0", "0", "1"]  # regex dot is quoted
    assert row4["e1"] is True and row4["ne1"] is True
    assert row4["chars"] == 5  # characters, not bytes
    assert row4["lo"] == "ét" and row4["up"] == "ÉZ"


def test_canonical_ipv6_matches_stdlib_rfc5952(spark):
    """canonical_ipv6 vs Python's ipaddress.compressed (an independent
    RFC-5952 implementation): 300 seeded-random addresses plus the
    adversarial shapes (zero runs at every position, ties, all-zero,
    single zeros), each fed as the fully-padded uppercase form AND as the
    compressed form itself (idempotence)."""
    import ipaddress
    import random

    rng = random.Random(5952)
    values = [rng.getrandbits(128) for _ in range(300)]
    # adversarial: runs of zero groups at each offset/length, ties, edges
    for start in range(8):
        for length in range(1, 9 - start):
            groups = [0x1111] * 8
            for i in range(start, start + length):
                groups[i] = 0
            v = 0
            for g in groups:
                v = (v << 16) | g
            values.append(v)
    values += [0, 1, 1 << 112, (1 << 128) - 1,
               0x2001_0db8_0000_0001_0000_0000_0000_0001,  # two runs, tie
               0x0000_0001_0000_0000_0001_0000_0000_0000]
    cases = []
    for v in values:
        addr = ipaddress.IPv6Address(v)
        padded = ":".join(f"{(v >> (112 - 16 * i)) & 0xFFFF:04X}" for i in range(8))
        cases.append((padded, addr.compressed))
        cases.append((addr.compressed.upper(), addr.compressed))

    from clickhouse_table_copier_spark.functions.scalars import canonical_ipv6

    df = spark.createDataFrame(
        [(i, inp) for i, (inp, _) in enumerate(cases)], ["i", "s"]
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_ipv6("s").alias("c")).collect()
    }
    bad = [
        (cases[i][0], got[i], cases[i][1])
        for i in range(len(cases))
        if got[i] != cases[i][1]
    ]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def test_ipv4_roundtrip_matches_stdlib(spark):
    """ipv4_to_long / long_to_ipv4 vs ipaddress on seeded-random + edge
    addresses, both directions."""
    import ipaddress
    import random

    rng = random.Random(4)
    nums = [rng.getrandbits(32) for _ in range(200)] + [
        0, 1, 255, 256, 0xFFFFFFFF, 0x7F000001, 0x0A000001
    ]
    cases = [(n, str(ipaddress.IPv4Address(n))) for n in nums]

    from clickhouse_table_copier_spark.functions.scalars import (
        ipv4_to_long,
        long_to_ipv4,
    )

    df = spark.createDataFrame(cases, ["n", "s"])
    rows = df.select(
        "n", "s",
        long_to_ipv4("n").alias("rendered"),
        ipv4_to_long("s").alias("parsed"),
    ).collect()
    for r in rows:
        assert r["rendered"] == r["s"], (r["n"], r["rendered"], r["s"])
        assert r["parsed"] == r["n"], (r["s"], r["parsed"], r["n"])


def test_register_used_functions_only_called_shims(spark):
    """The CLI registers only the shims its partition expressions call,
    nested or in any case, and none for a key that calls no shim."""
    from clickhouse_table_copier_spark.functions.ch_dialect import (
        _FUNCTIONS,
        register_used_functions,
    )

    s = spark.newSession()  # its own temporary functions
    names = register_used_functions(s, ["TOYYYYMM(toDate(x))", "intDiv(a, 3)"])
    assert sorted(names) == ["intDiv", "toDate", "toYYYYMM"]
    row = s.sql("SELECT toyyyymm(TODATE('2026-02-15')) AS ym, INTDIV(7, 3) AS d").first()
    assert (row["ym"], row["d"]) == (202602, 2)
    with pytest.raises(Exception, match="UNRESOLVED_ROUTINE"):
        s.sql("SELECT toInt32(1)")
    assert register_used_functions(s, ["CAST(date_format(l_shipdate, 'yyyyMM') AS INT)"]) == []
    # complete: no shim body calls another shim
    assert [n for n, body in _FUNCTIONS if register_used_functions(s, [body])] == []


def test_clickhouse_dialect_partition_key_functions(spark):
    """toYYYYMM / toStartOfMonth / intDiv — the expressions ClickHouse
    configs PARTITION BY — usable directly in a PartitionSpec expr, so a
    reference config's partition_by carries over verbatim."""
    from clickhouse_table_copier_spark.functions.ch_dialect import (
        register_clickhouse_functions,
    )
    from clickhouse_table_copier_spark.plans.partition_spec import (
        PartitionField,
        PartitionSpec,
    )

    register_clickhouse_functions(spark)
    row = spark.sql(
        """
        SELECT toYYYYMM(DATE'2026-02-15') AS ym,
               toYYYYMMDD(DATE'2026-02-15') AS ymd,
               toStartOfMonth(DATE'2026-02-15') AS som,
               toMonday(DATE'2026-02-15') AS mon,
               intDiv(17, 5) AS idv,
               modulo(17, 5) AS md
        """
    ).first()
    assert row["ym"] == 202602 and row["ymd"] == 20260215
    assert str(row["som"]) == "2026-02-01" and str(row["mon"]) == "2026-02-09"
    assert row["idv"] == 3 and row["md"] == 2

    # the verbatim-carryover claim, end to end: partition a table by the
    # ClickHouse expression itself
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    spec = PartitionSpec.of(
        PartitionField("ym", "toYYYYMM(CAST(l_shipdate AS DATE))")
    )
    parts = (
        spec.with_partition_columns(li).select("ym").distinct().collect()
    )
    assert all(1 <= r["ym"] % 100 <= 12 for r in parts)
    assert all(1990 <= r["ym"] // 100 <= 2010 for r in parts)
    assert len(parts) >= 12  # year-month grain: more partitions than months


def test_clickhouse_dialect_second_pass(spark):
    """Depth pass of the dialect: calendar/epoch/OrZero/bit/string
    staples — each checked against an independently computed expectation
    (isoweekday for the Monday-based day-of-week; epoch math under the
    UTC session)."""
    import datetime

    from clickhouse_table_copier_spark.functions.ch_dialect import (
        register_clickhouse_functions,
    )

    register_clickhouse_functions(spark)
    row = spark.sql(
        """
        SELECT toQuarter(DATE'2026-05-15') AS q,
               toDayOfYear(DATE'2026-02-01') AS doy,
               toStartOfHour(TIMESTAMP'2026-05-15 13:45:33') AS soh,
               toStartOfQuarter(DATE'2026-05-15') AS soq,
               toStartOfYear(DATE'2026-05-15') AS soy,
               toUnixTimestamp(TIMESTAMP'1970-01-01 00:01:00') AS ut,
               toUnixTimestamp(fromUnixTimestamp(1234567890)) AS rt,
               addDays(DATE'2026-01-30', 3) AS ad,
               subtractDays(DATE'2026-01-02', 3) AS sd,
               toInt64OrZero('123') AS i_ok,
               toInt64OrZero('abc') AS i_zero,
               toInt32OrZero('9999999999') AS i_overflow,
               toFloat64OrZero('1.5') AS f_ok,
               ifNull(NULL, 'd') AS ifn,
               arrayStringConcat(array('a','b','c'), '-') AS joined,
               bitAnd(12, 10) AS ba, bitOr(12, 10) AS bo, bitXor(12, 10) AS bx,
               bitShiftLeft(1, 10) AS bsl, bitShiftRight(1024, 4) AS bsr,
               startsWith('hello', 'he') AS sw,
               startsWith('xhello', 'h%') AS sw_wildcard,
               endsWith('hello', 'lo') AS ew -- ifNull/startsWith/endsWith: Spark builtins, verbatim
        """
    ).first()
    assert row["q"] == 2 and row["doy"] == 32
    assert str(row["soh"]).startswith("2026-05-15 13:00:00")
    assert str(row["soq"]) == "2026-04-01" and str(row["soy"]) == "2026-01-01"
    assert row["ut"] == 60 and row["rt"] == 1234567890
    assert str(row["ad"]) == "2026-02-02" and str(row["sd"]) == "2025-12-30"
    assert row["i_ok"] == 123 and row["i_zero"] == 0 and row["i_overflow"] == 0
    assert row["f_ok"] == 1.5 and row["ifn"] == "d" and row["joined"] == "a-b-c"
    assert (row["ba"], row["bo"], row["bx"]) == (8, 14, 6)
    assert row["bsl"] == 1024 and row["bsr"] == 64
    assert row["sw"] is True and row["sw_wildcard"] is False and row["ew"] is True

    # Monday-based day-of-week vs Python's isoweekday across a full week
    rows = spark.sql(
        "SELECT d, toDayOfWeek(d) AS dow FROM ("
        "SELECT explode(sequence(DATE'2026-08-10', DATE'2026-08-16')) AS d)"
    ).collect()
    for r in rows:
        assert r["dow"] == datetime.date.fromisoformat(str(r["d"])).isoweekday()


def test_clickhouse_dialect_third_pass(spark):
    """String-search / array staples: 1-based positions with 0-absent,
    ClickHouse semantics, each vs an independently stated expectation."""
    from clickhouse_table_copier_spark.functions.ch_dialect import (
        register_clickhouse_functions,
    )

    register_clickhouse_functions(spark)
    row = spark.sql(
        """
        SELECT locate('world', 'hello world') AS pos,
               locate('xyz', 'hello') AS pos0,
               indexOf(array('a','b','c'), 'b') AS idx,
               indexOf(array('a','b','c'), 'z') AS idx0,
               has(array('a','b'), 'a') AS has_t,
               has(array('a','b'), 'z') AS has_f,
               arrayUniq(array('a','b','a','c')) AS uniq,
               arrayDistinct(array('b','a','b')) AS dist,
               arraySort(array('c','a','b')) AS srt,
               arrayReverse(array('a','b','c')) AS rev,
               arraySlice(array('a','b','c','d'), 2, 2) AS sl,
               replaceAll('a-b-c', '-', '_') AS rall,
               replaceRegexpAll('a1b22c', '[0-9]+', '#') AS rre,
               trimBoth('  x  ') AS trm,
               modulo(10, 3) AS md,
               modulo(-7, 3) AS mdneg
        """
    ).collect()[0]
    assert row["pos"] == 7 and row["pos0"] == 0
    assert row["idx"] == 2 and row["idx0"] == 0
    assert row["has_t"] is True and row["has_f"] is False
    assert row["uniq"] == 3
    assert row["dist"] == ["b", "a"]
    assert row["srt"] == ["a", "b", "c"]
    assert row["rev"] == ["c", "b", "a"]
    assert row["sl"] == ["b", "c"]
    assert row["rall"] == "a_b_c"
    assert row["rre"] == "a#b#c"
    assert row["trm"] == "x"
    assert row["md"] == 1 and row["mdneg"] == -1  # sign of dividend (CH parity)
