"""Scalar/coercion/hash unit tests.

Mirrors the reference's unit layer (tests/test_scraper.py TestTypeCoercion
:24-74, TestUUIDGeneration :77-111; tests/test_database.py TestHashFunction
:565-585) — semantics, not code.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ctcityscraper_spark.functions import (
    HASH_EXCLUDED_FIELDS,
    clean_string_col,
    comma_number_col,
    compute_row_hash,
    entity_uuid_col,
    float_col,
    hash64,
    int_col,
    money_col,
    normalize_key,
    row_hash_col,
)
from ctcityscraper_spark.functions.hashing import stamp_metadata


def one(spark, expr, value):
    return (
        spark.createDataFrame([(value,)], "v string").select(expr.alias("r")).first().r
    )


class TestCoercion:
    @pytest.mark.parametrize(
        "raw,expected",
        [
            ("$1,500.00", 1500.0),
            ("$350,000", 350000.0),
            (" $2,000.50 ", 2000.5),
            ("", None),
            ("N/A", None),
            (None, None),
            ("123.45", 123.45),
        ],
    )
    def test_money(self, spark, raw, expected):
        assert one(spark, money_col("v"), raw) == expected

    @pytest.mark.parametrize(
        "raw,expected",
        [("1.5", 1.5), ("garbage", None), ("", None), ("2,000", None)],
    )
    def test_float(self, spark, raw, expected):
        assert one(spark, float_col("v"), raw) == expected

    @pytest.mark.parametrize(
        "raw,expected", [("7", 7), ("7.9", 7), ("x", None), ("", None)]
    )
    def test_int(self, spark, raw, expected):
        assert one(spark, int_col("v"), raw) == expected

    @pytest.mark.parametrize(
        "raw,expected",
        [("  hi  ", "hi"), ("", None), ("   ", None), ("a b", "a b")],
    )
    def test_clean_string(self, spark, raw, expected):
        assert one(spark, clean_string_col("v"), raw) == expected

    def test_comma_number(self, spark):
        assert one(spark, comma_number_col("v"), "2,000") == 2000.0

    @pytest.mark.parametrize(
        "raw,expected",
        [
            ("Living Area:", "living_area"),
            ("Bed & Bath", "bed_and_bath"),
            ("  Year Built : ", "year_built"),
        ],
    )
    def test_normalize_key(self, spark, raw, expected):
        assert one(spark, normalize_key("v"), raw) == expected


class TestRowHash:
    def test_metadata_fields_excluded(self, spark):
        df1 = spark.createDataFrame([Row(a="x", b=1)])
        df2 = spark.createDataFrame([Row(a="x", b=1, scraped_at="2020-01-01", row_hash="zz")])
        h1 = df1.select(row_hash_col(df1.columns).alias("h")).first().h
        h2 = df2.select(row_hash_col(df2.columns).alias("h")).first().h
        assert h1 == h2
        assert len(h1) == 32

    def test_data_change_changes_hash(self, spark):
        df = spark.createDataFrame([Row(a="x", b=1), Row(a="x", b=2)])
        hashes = [r.h for r in df.select(row_hash_col(df.columns).alias("h")).collect()]
        assert hashes[0] != hashes[1]

    def test_null_drop_is_load_bearing(self, spark):
        # value -> NULL must change the hash (key disappears from the JSON)
        df = spark.createDataFrame([Row(a="x", b="y"), Row(a="x", b=None)])
        hashes = [r.h for r in df.select(row_hash_col(df.columns).alias("h")).collect()]
        assert hashes[0] != hashes[1]

    def test_column_order_independent(self, spark):
        df1 = spark.createDataFrame([Row(a="x", b="y")])
        df2 = spark.createDataFrame([Row(b="y", a="x")])
        h1 = df1.select(row_hash_col(df1.columns).alias("h")).first().h
        h2 = df2.select(row_hash_col(df2.columns).alias("h")).first().h
        assert h1 == h2

    def test_python_twin_matches_spark(self, spark):
        row = {"a": "x", "pid": 7, "scraped_at": "2020-01-01"}
        df = spark.createDataFrame([Row(**row)])
        spark_h = df.select(row_hash_col(df.columns).alias("h")).first().h
        assert compute_row_hash(row) == spark_h

    def test_exclusion_list_verbatim(self):
        # the reference's 13-field list (src/engine/hash.py:7-24)
        assert HASH_EXCLUDED_FIELDS == {
            "id", "version", "row_hash", "effective_from", "effective_to",
            "is_current", "loaded_at", "updated_at", "created_at",
            "scraped_at", "city_id", "vgsi_url", "photo_paths",
            "photo_local_path",
        }

    def test_stamp_metadata(self, spark):
        df = spark.createDataFrame([Row(uuid="u1", val=1)])
        out = stamp_metadata(df).collect()[0]
        assert out.scraped_at is not None
        assert len(out.row_hash) == 32


class TestEntityUuid:
    def test_deterministic_and_formatted(self, spark):
        df = spark.createDataFrame([Row(pid=1, addr="10 Main St")])
        u1 = df.select(entity_uuid_col("pid", ["addr"]).alias("u")).first().u
        u2 = df.select(entity_uuid_col("pid", ["addr"]).alias("u")).first().u
        assert u1 == u2
        parts = u1.split("-")
        assert [len(p) for p in parts] == [8, 4, 4, 4, 12]

    def test_different_data_different_uuid(self, spark):
        df = spark.createDataFrame([Row(pid=1, addr="10 Main St"), Row(pid=1, addr="11 Main St")])
        us = [r.u for r in df.select(entity_uuid_col("pid", ["addr"]).alias("u")).collect()]
        assert us[0] != us[1]


class TestHash64:
    def test_matches_duckdb(self, spark):
        import duckdb

        vals = ["alpha", "beta", "gamma delta"]
        df = spark.createDataFrame([Row(v=v) for v in vals])
        got = {r.v: r.h for r in df.select("v", hash64("v", seed=3).alias("h")).collect()}
        con = duckdb.connect()
        for v in vals:
            (exp,) = con.execute(
                "select ('0x' || substring(md5('3' || ?), 1, 15))::BIGINT", [v]
            ).fetchone()
            assert got[v] == exp, v

    def test_python_twin_matches_column(self, spark):
        """hash64_py is the ONE driver-side implementation of the
        md5-prefix rule — every probe that folds a literal key into a
        partition filter derives from it, so it must agree bit-for-bit
        with the Spark column on adversarial values and seeds."""
        from ctcityscraper_spark.functions.hashing import hash64, hash64_py

        vals = ["alpha", "", "a,b", "ünïcödé", "0", "bm25bktterm"]
        for seed in ["", 3, "bm25bkt", "segtail"]:
            df = spark.createDataFrame([Row(v=v) for v in vals])
            got = {
                r.v: r.h
                for r in df.select(
                    "v", hash64("v", seed=seed).alias("h")
                ).collect()
            }
            for v in vals:
                assert got[v] == hash64_py(v, seed), (v, seed)

    def test_bm25_bucket_of_matches_stored_layout(self, spark):
        """ADVICE r14: the probe's driver-side bucket must equal the
        term_bucket column the index was WRITTEN under — drift would
        silently exclude the true buckets from the partition filter."""
        from ctcityscraper_spark.functions.hashing import hash64
        from ctcityscraper_spark.operators.text import bm25_bucket_of

        terms = ["rare", "common", "the", "ünïcödé", ""]
        for n in (16, 256):
            df = spark.createDataFrame([Row(t=t) for t in terms])
            col_buckets = {
                r.t: r.b
                for r in df.select(
                    "t", (hash64(F.col("t"), "bm25bkt") % n).alias("b")
                ).collect()
            }
            for t in terms:
                assert bm25_bucket_of(t, n) == col_buckets[t], (t, n)


class TestSqlFunctionTwins:
    """The SQL-UDF surface (functions/sqlfuncs.py) must agree value-for-value
    with the Column builders on adversarial inputs."""

    INPUTS = [
        "$1,500.00 ", "1,234", "  7.9 ", "7", "-3.5", "N/A", "", "   ",
        "$,", "1.2.3", "0", "-0", " Total Value: ", "Beds & Baths:",
        "MIXED Case  Key:", None, "2,000,000", "$0.01", "nan", "Infinity",
    ]

    def _frame(self, spark):
        from pyspark.sql import Row

        return spark.createDataFrame([Row(s=v) for v in self.INPUTS])

    def test_every_twin_matches_column_builder(self, spark):
        from ctcityscraper_spark.functions.coercion import (
            clean_string_col,
            comma_number_col,
            float_col,
            int_col,
            money_col,
            normalize_key,
        )
        from ctcityscraper_spark.functions.hashing import hash64
        from ctcityscraper_spark.functions.sqlfuncs import register_sql_functions

        register_sql_functions(spark)
        df = self._frame(spark)
        pairs = [
            ("money_clean(s)", money_col("s")),
            ("float_clean(s)", float_col("s")),
            ("int_clean(s)", int_col("s")),
            ("string_clean(s)", clean_string_col("s")),
            ("comma_number(s)", comma_number_col("s")),
            ("normalize_key(s)", normalize_key("s")),
            ("hash64('x', s)", hash64(F.col("s"), "x")),
        ]
        for sql_expr, col_expr in pairs:
            got = df.selectExpr(f"{sql_expr} AS v").collect()
            want = df.select(col_expr.alias("v")).collect()
            # repr-compare: NaN == NaN under repr, exact otherwise
            assert [repr(r.v) for r in got] == [
                repr(r.v) for r in want
            ], sql_expr

    def test_registration_is_idempotent(self, spark):
        from ctcityscraper_spark.functions.sqlfuncs import register_sql_functions

        register_sql_functions(spark)
        register_sql_functions(spark)
        assert spark.sql("SELECT money_clean('$2') AS v").first().v == 2.0

    def test_sql_udf_inlines_into_codegen(self, spark):
        from ctcityscraper_spark.functions.sqlfuncs import register_sql_functions

        register_sql_functions(spark)
        df = self._frame(spark)
        plan = (
            df.selectExpr("money_clean(s) AS v")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the body inlines as expressions — no BatchEvalPython / PythonUDF
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        # codegen stages print as *(n) markers in executedPlan.toString()
        assert "*(1)" in plan


def test_known_lower_casing_divergence(spark):
    """Documents the PROBED engine-library boundary of the oracle-equality
    contract (queries_ext.TOKS comment): Spark (Java/ICU casing tables)
    and DuckDB agree on lower() for common scripts, ligatures, fullwidth
    forms and sharp-s, but DIVERGE on context-sensitive casing — Greek
    word-final sigma and Turkish dotted capital I. This test pins BOTH
    sides of the boundary so an engine upgrade that moves it is noticed
    (if the divergent cases start agreeing, tighten the contract; if an
    agreeing case breaks, a twin relying on lower() may silently split).
    """
    import duckdb
    from pyspark.sql import functions as F

    agree = ["I", "ı", "ẞ", "ß", "ﬁ", "Σ", "Ａ", "ǅ", "MASSE", "CAFÉ"]
    diverge = ["ΑΣ", "İstanbul", "ΌΣΟΣ"]
    rows = [(i, t) for i, t in enumerate(agree + diverge)]
    got = {
        r.id: r.l
        for r in spark.createDataFrame(rows, "id long, t string")
        .select("id", F.lower("t").alias("l"))
        .collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(agree):
        assert got[i] == con.execute("SELECT lower(?)", [t]).fetchone()[0], t
    for j, t in enumerate(diverge, start=len(agree)):
        assert got[j] != con.execute("SELECT lower(?)", [t]).fetchone()[0], t
    con.close()


def test_trim_twins_keep_edge_unicode_spaces(spark):
    """Spark's trim strips only U+0020; the SQL twins must too (trim(x,
    ' ')), or a doc that is just a NBSP / ideographic space tokenizes to
    one token in Spark and none in DuckDB (queries_ext.TOKS comment)."""
    import duckdb
    from pyspark.sql import functions as F

    from ctcityscraper_spark.operators.text import normalized_text_col, tokens_col
    from ctcityscraper_spark.plans.queries_ext import TOKS

    texts = ["\xa0", " \xa0a　 ", "　", "\t a \xa0", "  b  "]
    rows = [(i, t) for i, t in enumerate(texts)]
    got = [
        (r.n, r.c)
        for r in spark.createDataFrame(rows, "id long, text string")
        .orderBy("id")
        .select(
            F.size(tokens_col("text")).alias("n"),
            normalized_text_col("text").alias("c"),
        )
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT len({TOKS}), trim(regexp_replace(lower(text),"
            " '[ \t\n\v\f\r]+', ' ', 'g'), ' ') FROM (SELECT ? AS text)",
            [t],
        ).fetchone()
        for t in texts
    ]
    con.close()
    assert got == [tuple(w) for w in want]
    assert got[0] == (1, "\xa0")


def test_bind_once_matches_inline_evaluation(spark):
    """bind_once(e, fn) must be value-identical to fn(e) — including the
    null-input path, where the bound lambda variable sees NULL exactly as
    the inlined expression would. (The wrapper exists for performance:
    HOF lambdas re-evaluate captured outer expressions per element, so
    shingles_col/segments/winnow let-bind their token/normalized-text
    arrays — the r15 optimization round.)"""
    from ctcityscraper_spark.functions.exprs import bind_once

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, None), (4, "x"), (5, "  pad  ")],
        "id long, t string",
    )
    toks = F.split(F.trim("t"), r"\s+")

    def tri(tk):
        n = F.size(tk) - 2
        mk = F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, 3)),
        )
        return F.array_distinct(F.when(n >= 1, mk).otherwise(F.array()))

    inline = df.select("id", tri(toks).alias("v")).collect()
    bound = df.select("id", bind_once(toks, tri).alias("v")).collect()
    assert inline == bound

    # scalar (non-array) binding: the winnow normalized-text shape
    norm = F.trim(F.lower("t"))
    inline2 = df.select(
        "id", F.when(F.length(norm) >= 1, norm).alias("v")
    ).collect()
    bound2 = df.select(
        "id",
        bind_once(
            norm, lambda c: F.when(F.length(c) >= 1, c)
        ).alias("v"),
    ).collect()
    assert inline2 == bound2


def test_regexp_count_forms_match_materializing_counts(spark):
    """The r15 count-only rewrites must stay value-identical to the
    array-materializing forms they replaced: regexp_count == size(
    regexp_extract_all) for both group-0 and group-1 patterns (extract_all
    emits exactly one group entry per match), and token_count_col ==
    size(split(trim, '\\s+')) including the empty-string quirk (split("")
    is [""] -> 1 == 0 separator matches + 1) and null propagation."""
    from ctcityscraper_spark.operators.corpus import BPE_SPLIT_RE
    from ctcityscraper_spark.operators.text import token_count_col, tokens_col

    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "a b  c\td"),
            (6, "\x0b\tx y\x0b"),
            (7, "num 42, punct!! (w)(x)(y) end."),
            (8, " lead trail "),
            (9, "tab\there\nnew\rline\fform"),
        ],
        "id long, t string",
    )
    null9 = F.lit(-9)

    # group-0 count (the pack_sequences / pii / bpe_token_count shape)
    old0 = F.size(F.regexp_extract_all("t", F.lit(BPE_SPLIT_RE), 0))
    new0 = F.regexp_count("t", F.lit(BPE_SPLIT_RE))
    assert (
        df.select(F.coalesce(old0, null9).alias("a"), F.coalesce(new0, null9).alias("b"))
        .filter("a <> b")
        .count()
        == 0
    )

    # group-1 count (the bpe encode/fertility TOKEN_RE shape)
    pat1 = r"\(([^)]*)\)"
    old1 = F.size(F.regexp_extract_all("t", F.lit(pat1), 1))
    new1 = F.regexp_count("t", F.lit(pat1))
    assert (
        df.select(F.coalesce(old1, null9).alias("a"), F.coalesce(new1, null9).alias("b"))
        .filter("a <> b")
        .count()
        == 0
    )

    # whitespace token count (the token_count_col shape) — value AND type
    old_t = F.size(tokens_col("t"))
    new_t = token_count_col("t")
    out = df.select(
        F.coalesce(old_t, null9).alias("a"), F.coalesce(new_t, null9).alias("b")
    )
    assert [f.dataType for f in out.schema.fields][0] == [
        f.dataType for f in out.schema.fields
    ][1]
    assert out.filter("a <> b").count() == 0
