"""Property-based tests (hypothesis) for the invariants the engine's
correctness story leans on: exact order-independent summation, winnowing's
selection rule, and the macro-F1 aggregate. Each example runs one tiny
Spark job, so example counts are kept small; the properties — not volume —
carry the weight.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# money-like values: <=2 decimal digits, magnitudes through the fast-path
# contract (|c| * 10^4 <= ~1e14)
money = st.integers(min_value=-(10**9), max_value=10**9).map(lambda c: c / 100.0)


@given(st.lists(money, min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_dec_sum_is_exact_and_order_independent(spark, xs):
    """dec_sum == the true decimal sum, regardless of row order or
    partitioning — the invariant that makes distributed results
    hash-match a single-threaded oracle."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions.stats import dec_sum

    exact = float(sum(Decimal(str(x)) for x in xs))
    for data in (xs, list(reversed(xs))):
        df = spark.createDataFrame([(v,) for v in data], ["v"]).repartition(4)
        got = df.agg(dec_sum(F.col("v")).alias("s")).first().s
        assert got == exact, (got, exact)


@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=3), min_size=3, max_size=30
    )
)
@settings(**_SETTINGS)
def test_winnowing_selection_rule_on_random_docs(spark, toks):
    """For ANY token sequence: the Arrow winnower returns exactly the
    rightmost-min-per-window fingerprint set of the Python reference."""
    from big_data_computing_final_project_spark.plans.dedup import (
        _WINNOW_K,
        _WINNOW_W,
        winnow_fingerprints_arrow,
    )

    text = " ".join(toks)
    hashes = [
        int(hashlib.md5(" ".join(toks[i : i + _WINNOW_K]).encode()).hexdigest()[:15], 16)
        for i in range(len(toks) - _WINNOW_K + 1)
    ]
    w = min(_WINNOW_W, len(hashes))
    expected = set()
    for i in range(len(hashes) - w + 1):
        window = hashes[i : i + w]
        mn = min(window)
        pos = max(j for j in range(i, i + w) if hashes[j] == mn)
        expected.add((pos + 1, mn))

    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {(r.pos, r.fp) for r in winnow_fingerprints_arrow(docs).collect()}
    assert got == expected


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=1, max_size=60
    )
)
@settings(**_SETTINGS)
def test_macro_f1_matches_python_on_random_confusions(spark, pairs):
    """summary_metrics' macro-F1 == the from-scratch Python computation on
    arbitrary (label, prediction) multisets — including classes that are
    only ever predicted or only ever true (the zero-division edges)."""
    from big_data_computing_final_project_spark.ml.evaluation import summary_metrics

    classes = sorted({l for l, _ in pairs} | {p for _, p in pairs})
    f1s = []
    for c in classes:
        tp = sum(1 for l, p in pairs if l == c and p == c)
        predicted = sum(1 for _, p in pairs if p == c)
        support = sum(1 for l, _ in pairs if l == c)
        prec = tp / predicted if predicted else 0.0
        rec = tp / support if support else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
    expected = sum(f1s) / len(f1s)

    df = spark.createDataFrame(pairs, ["label", "prediction"])
    got = summary_metrics(df).first().macro_f1
    assert abs(got - expected) < 1e-12, (got, expected)


vec_floats = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False, width=32
)


@given(st.lists(vec_floats, min_size=1, max_size=16))
@settings(**_SETTINGS)
def test_int8_quantize_bound_and_determinism(spark, xs):
    """Symmetric int8 quantization invariants on arbitrary float vectors:
    codes stay in [-127, 127], the max-|x| component maps to ±127 exactly,
    reconstruction error per component is <= maxabs/254 + an ulp of slack,
    and an all-zero vector maps to all-zero codes (no 0/0)."""
    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.operators.quantize import (
        dequantize,
        max_abs,
        quantize_int8_of,
    )

    df = spark.createDataFrame([(xs,)], "e array<double>")
    staged = df.select("e", max_abs(F.col("e")).alias("maxabs"))
    row = staged.select(
        "e",
        "maxabs",
        quantize_int8_of(F.col("e"), F.col("maxabs")).alias("q"),
        dequantize(
            quantize_int8_of(F.col("e"), F.col("maxabs")), F.col("maxabs")
        ).alias("x_hat"),
    ).collect()[0]
    maxabs = row["maxabs"]
    assert all(-127 <= c <= 127 for c in row["q"])
    if maxabs == 0.0:
        assert all(c == 0 for c in row["q"])
    else:
        peak = max(range(len(xs)), key=lambda i: abs(row["e"][i]))
        assert abs(row["q"][peak]) == 127
        tol = maxabs / 254.0 * (1 + 1e-9)
        for x, xh in zip(row["e"], row["x_hat"]):
            assert abs(x - xh) <= tol, (x, xh, maxabs)


def test_parse_bytes_spark_conf_forms():
    """broadcast_if_small must read every form Spark accepts for
    autoBroadcastJoinThreshold: bare bytes, k/m/g suffixes, b-suffixed
    units, and the -1 disable sentinel."""
    from big_data_computing_final_project_spark.operators.sizing import _parse_bytes

    assert _parse_bytes("10485760") == 10 * 1024 * 1024
    assert _parse_bytes("10MB") == 10 * 1024 * 1024
    assert _parse_bytes("10m") == 10 * 1024 * 1024
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("512k") == 512 * 1024
    assert _parse_bytes("-1") == -1
    assert _parse_bytes(" 2MB ") == 2 * 1024 * 1024


def test_dec_sum_parity_beyond_2_53(spark, tmp_path):
    """The sf0.1 sweep caught engines diverging on decimal->double once the
    unscaled sum exceeds 2^53 (DuckDB two-step vs Spark single-step). This
    pins the VARCHAR-route fix far past that threshold — magnitudes no
    test SF reaches: 1M rows of ~1e6-scale 2dp values, unscaled scale-4
    total ~1e16 > 2^53."""
    import duckdb

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions.stats import (
        dec_sum,
        sql_dec_sum,
    )
    from tools.check_oracle import _canon

    df = spark.range(1_000_000).select(
        (F.col("id") % 7).alias("g"),
        # deterministic 2dp values up to ~1.4e8 (inside the fast-path
        # magnitude contract), all-positive so group totals don't cancel
        (F.round((F.col("id") % 999_999) * 137.0 + 0.25, 2)).alias("v"),
    )
    path = str(tmp_path / "big.parquet")
    df.write.parquet(path)

    got = {
        r["g"]: r["s"]
        for r in spark.read.parquet(path)
        .groupBy("g")
        .agg(dec_sum(F.col("v"), 4).alias("s"))
        .collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM parquet_scan('{path}/*.parquet')")
    want = {
        g: s
        for g, s in con.sql(
            f"SELECT g, {sql_dec_sum('v', 4)} AS s FROM t GROUP BY g"
        ).fetchall()
    }
    assert set(got) == set(want)
    for g in got:
        assert _canon(got[g]) == _canon(want[g]), (g, got[g], want[g])
    # sanity: the magnitudes really exceed the 2^53 divergence threshold
    assert any(abs(v) * 1e4 > 2**53 for v in got.values())


def test_dec_sum_wide_path_parity_beyond_2_53(spark, tmp_path):
    """Same pin for the wide (BigDecimal) path: scale>8 forces it."""
    import duckdb

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions.stats import (
        dec_sum,
        sql_dec_sum,
    )
    from tools.check_oracle import _canon

    df = spark.range(200_000).select(
        ((F.col("id") % 997).cast("double") / 7.0 + 1000.0).alias("v")
    )
    path = str(tmp_path / "wide.parquet")
    df.write.parquet(path)
    got = (
        spark.read.parquet(path).agg(dec_sum(F.col("v"), 10).alias("s")).first()["s"]
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW t AS SELECT * FROM parquet_scan('{path}/*.parquet')")
    want = con.sql(f"SELECT {sql_dec_sum('v', 10)} AS s FROM t").fetchone()[0]
    assert _canon(got) == _canon(want), (got, want)


def test_normalize_tokens_cross_engine_fuzz(spark, tmp_path):
    """Deterministic fuzz parity for the tokenization foundation: Spark
    normalize/tokens vs the DuckDB _SQL_NORM/_SQL_TOKS fragments on
    adversarial strings — mixed ASCII punctuation, control whitespace,
    accents, CJK, astral-plane chars, and the Unicode spaces (NBSP, EM
    SPACE, ideographic space) that diverged before the [\\s\\p{Z}]+
    collapse class."""
    import random
    import string

    import duckdb

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.plans.textops import _SQL_NORM

    random.seed(7)
    pool = (
        string.ascii_letters
        + string.digits
        + " .,!?;:-_()[]'\"\t\n\r"
        + "éüñ漢字𝔘"
        + "\xa0  　"
        + "\x0b\x85\x1c"  # VT (Java-s-class), NEL + FS (Python-s-only)
    )
    rows = [
        (i, "".join(random.choice(pool) for _ in range(random.randint(0, 60))))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {
        r["id"]: (r["nm"], r["tk"])
        for r in df.select(
            "id",
            X.normalize(F.col("text")).alias("nm"),
            X.tokens(F.col("text")).alias("tk"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        i: (nm, tk)
        for i, nm, tk in con.execute(
            f"SELECT id, {_SQL_NORM}, string_split({_SQL_NORM}, ' ') FROM t"
        ).fetchall()
    }
    bad = [i for i in got if got[i] != (want[i][0], want[i][1])]
    assert not bad, [(rows[i][1], got[i], want[i]) for i in bad[:3]]


def test_text_fragments_cross_engine_fuzz(spark):
    """Fuzz parity for the remaining oracle-dialect fragment pairs on the
    same adversarial alphabet as the normalize test: fingerprint (md5 of
    normalized text), the q33 quality score (length/punct/stopword
    composite — exercises \\w-class and length() semantics on accents,
    CJK, and astral chars), word shingles (set equality — DuckDB's
    list_distinct orders arbitrarily, Spark's array_distinct keeps first
    occurrence; every consumer is set-semantic), and the md5-60bit
    uniform on edge-case integer keys."""
    import random
    import string

    import duckdb

    from pyspark.sql import functions as F

    from big_data_computing_final_project_spark.functions import text as X
    from big_data_computing_final_project_spark.plans.curation import _sql_u60, _u60
    from big_data_computing_final_project_spark.plans.dedup import _SQL_SHINGLES
    from big_data_computing_final_project_spark.plans.textops import (
        _SQL_NORM,
        _SQL_PUNCT_RATIO,
        _SQL_STOP_RATIO,
        _SQL_TOKS,
    )

    random.seed(11)
    pool = (
        string.ascii_letters
        + string.digits
        + " .,!?;:-_()[]'\"\t\n\r"
        + "éüñ漢字𝔘"
        + "\xa0  　"
        + "\x0b\x85\x1c"  # VT (Java-s-class), NEL + FS (Python-s-only)
    )
    rows = [
        (i, "".join(random.choice(pool) for _ in range(random.randint(0, 80))))
        for i in range(300)
    ]
    for i in range(0, 300, 5):
        rows[i] = (rows[i][0], rows[i][1] + " the of and is a test")
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["fp"], r["q"], frozenset(r["sh"]))
        for r in df.select(
            "doc_id",
            X.fingerprint(F.col("text")).alias("fp"),
            X.quality_score(F.col("text")).alias("q"),
            X.tokens(F.col("text")).alias("toks"),
        )
        .select("doc_id", "fp", "q", X.shingles_of_tokens(F.col("toks"), 3).alias("sh"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    sql = f"""
    SELECT doc_id, md5({_SQL_NORM}) AS fp,
           least(length(text) / 500.0, 1.0) * 0.4
           + (1.0 - least({_SQL_PUNCT_RATIO} * 5.0, 1.0)) * 0.3
           + least({_SQL_STOP_RATIO} * 5.0, 1.0) * 0.3 AS q,
           (SELECT {_SQL_SHINGLES} FROM (SELECT {_SQL_TOKS} AS toks) s) AS sh
    FROM documents
    """
    want = {
        i: (fp, q, frozenset(sh)) for i, fp, q, sh in con.execute(sql).fetchall()
    }
    bad = [i for i in got if got[i] != want[i]]
    assert not bad, [(rows[i][1], got[i], want[i]) for i in bad[:3]]

    keys = [(i,) for i in list(range(100)) + [2**62, 2**63 - 1, -5, 0]]
    kdf = spark.createDataFrame(keys, ["k"])
    ugot = {r["k"]: r["u"] for r in kdf.select("k", _u60(F.col("k")).alias("u")).collect()}
    con.execute("CREATE TABLE t(k BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", keys)
    uwant = {k: u for k, u in con.execute(f"SELECT k, {_sql_u60('k')} AS u FROM t").fetchall()}
    assert ugot == uwant


def test_tumbling_window_bucketing_cross_engine_fuzz(spark, tmp_path):
    """F.window('1 hour').start must equal DuckDB's date_trunc('hour') on
    adversarial timestamps: exact hour boundaries, boundary ±1µs, and
    pre-1970 values (where floor-division vs truncate-toward-zero
    implementations classically diverge — both engines calendar-floor)."""
    import datetime as dt
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    random.seed(3)
    base = dt.datetime(1999, 12, 31, 22, 0, 0)
    stamps = []
    for _ in range(400):
        r = random.random()
        if r < 0.1:
            t = dt.datetime(1969, 6, 1) + dt.timedelta(
                microseconds=random.randrange(10**10)
            )
        elif r < 0.3:
            t = base + dt.timedelta(hours=random.randrange(10))
        elif r < 0.5:
            t = base + dt.timedelta(
                hours=random.randrange(10), microseconds=random.choice([-1, 0, 1])
            )
        else:
            t = base + dt.timedelta(microseconds=random.randrange(3_600_000_000 * 10))
        stamps.append(t)
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ts": pa.array(stamps, pa.timestamp("us"))}), path)
    df = spark.read.parquet(path)
    got = sorted(
        (r["w"], r["n"])
        for r in df.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("w"), "n")
        .collect()
    )
    con = duckdb.connect()
    want = sorted(
        con.execute(
            f"SELECT date_trunc('hour', ts) w, COUNT(*) n"
            f" FROM read_parquet('{path}') GROUP BY w"
        ).fetchall()
    )
    assert got == want


def test_json_extraction_cross_engine_edges(spark):
    """get_json_object vs DuckDB json_extract_string on the dialect edges
    (q30/q73/q76 foundation): duplicate keys (first wins in both), float
    exponents, beyond-int64 integers, case-sensitive keys, whitespace,
    invalid JSON (null, no error), booleans, and nested same-named keys."""
    import duckdb

    from pyspark.sql import functions as F

    cases = [
        '{"k": 5}',
        '{"k": "5"}',
        '{"k": 5, "k": 9}',
        '{"k": 5e2}',
        '{"k": 12345678901234567890}',
        '{"k": null}',
        '{"K": 5}',
        '{ "k" : 5 }',
        "not json",
        '{"k": true}',
        '{"k": 5.0}',
        '{"a": {"k": 7}, "k": 3}',
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["props"])
    got = {
        r["props"]: r["x"]
        for r in df.select(
            "props", F.get_json_object("props", "$.k").alias("x")
        ).collect()
    }
    con = duckdb.connect()
    for c in cases:
        want = con.execute(
            "SELECT json_extract_string(try_cast(? AS JSON), '$.k')", [c]
        ).fetchone()[0]
        assert got[c] == want, (c, got[c], want)


def test_describe_strings_tie_rule_and_nulls(spark):
    """describe_strings (SURVEY A2 string half): count excludes nulls,
    unique is exact, and the documented top-tie rule — highest count, then
    SMALLEST value — picks 'a' when 'a' and 'b' tie at 3."""
    from big_data_computing_final_project_spark.operators.profiling import (
        describe_strings,
    )

    rows = [("a",), ("a",), ("a",), ("b",), ("b",), ("b",), ("c",), (None,)]
    df = spark.createDataFrame(rows, "s string").repartition(3)
    r = describe_strings(df, ["s"]).collect()[0]
    assert (r.column_name, r.n_rows, r.n_unique, r.top, r.top_freq) == (
        "s", 7, 3, "a", 3,
    )
