"""Mapper + Eel translator tests (reference README mapping examples)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wwwision_importservice_spark.errors import ConfigurationError
from wwwision_importservice_spark.functions.eel import (
    is_eel_expression,
    register_helper,
    translate_eel,
)
from wwwision_importservice_spark.mapping import Mapper


def test_is_eel_expression():
    assert is_eel_expression("${record.x}")
    assert not is_eel_expression("plainAttribute")
    assert not is_eel_expression("${unterminated")


def test_attribute_passthrough_and_null_default(spark):
    # Mapper.php:39-40 — missing attribute maps to NULL
    df = spark.createDataFrame([("Jane", "Doe")], "firstName string, lastName string")
    mapper = Mapper({"given_name": "firstName", "missing": "noSuchAttr"})
    row = mapper.apply(df).collect()[0]
    assert row["given_name"] == "Jane" and row["missing"] is None


def test_arithmetic_expression(spark):
    # README.md:239 — ${record.priceNet + record.vat}
    df = spark.createDataFrame([(10.0, 2.5)], "priceNet double, vat double")
    mapper = Mapper({"price_gross": "${record.priceNet + record.vat}"})
    assert mapper.apply(df).collect()[0]["price_gross"] == 12.5


def test_string_helper(spark):
    # README.md:240 — ${String.firstLetterToUpperCase(record.firstName)}
    df = spark.createDataFrame([("jane",)], "firstName string")
    mapper = Mapper({"name": "${String.firstLetterToUpperCase(record.firstName)}"})
    assert mapper.apply(df).collect()[0]["name"] == "Jane"


def test_string_concat_with_plus(spark):
    # README.md:240 — ${... record.title + "-" + record.id ...}
    df = spark.createDataFrame([("t", "1")], "title string, id string")
    mapper = Mapper({"slug": '${record.title + "-" + record.id}'})
    assert mapper.apply(df).collect()[0]["slug"] == "t-1"


def test_ternary_and_comparison(spark):
    df = spark.createDataFrame([(5,), (15,)], "n int")
    mapper = Mapper({"bucket": '${record.n > 10 ? "big" : "small"}'})
    got = [r["bucket"] for r in mapper.apply(df).collect()]
    assert got == ["small", "big"]


def test_stringy_group_after_keyword_concats(spark):
    # a grouping paren directly after THEN/ELSE (keywords end in an
    # alnum char) must still mark the enclosing '+' chain as stringy —
    # numeric '+' on strings would silently return NULL
    df = spark.createDataFrame([(True, "s", "t")], "c boolean, s string, t string")
    mapper = Mapper({"out": '${record.c ? ("x" + record.s) + record.t : "z"}'})
    assert mapper.apply(df).collect()[0]["out"] == "xst"
    # ...while a numeric group after THEN stays arithmetic
    sql = translate_eel("${record.c ? (record.n + 1) + 2 : 0}")
    assert "||" not in sql


def test_logical_operators():
    sql = translate_eel("${record.a && record.b || !record.c}")
    assert "AND" in sql and "OR" in sql and "NOT" in sql and "&&" not in sql


def test_nested_helpers(spark):
    df = spark.createDataFrame([("  ab  ",)], "x string")
    mapper = Mapper({"out": "${String.toUpperCase(String.trim(record.x))}"})
    assert mapper.apply(df).collect()[0]["out"] == "AB"


def test_custom_helper_via_udf(spark):
    spark.udf.register("rev_py", lambda s: s[::-1], "string")
    register_helper("Custom.reverse", "rev_py({0})")
    df = spark.createDataFrame([("abc",)], "x string")
    mapper = Mapper({"out": "${Custom.reverse(record.x)}"})
    assert mapper.apply(df).collect()[0]["out"] == "cba"


def test_unknown_helper_raises(spark):
    df = spark.createDataFrame([("x",)], "x string")
    mapper = Mapper({"out": "${No.Such.Helper(record.x)}"})
    with pytest.raises(ConfigurationError, match="No translation"):
        mapper.apply(df)


def test_non_string_rule_raises():
    with pytest.raises(ConfigurationError, match="have to be strings"):
        Mapper({"a": 42})


def test_extra_context_variables(spark):
    # target-provided vars (ContentRepositoryTarget.php:296 injects nodeData)
    df = spark.createDataFrame(
        [(("n1",), "x")], "node struct<name:string>, attr string"
    )
    mapper = Mapper({"out": "${nodeData.name}"}, variables={"nodeData": "node"})
    assert mapper.apply(df).collect()[0]["out"] == "n1"


def test_date_and_math_helpers(spark):
    import datetime

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 15, 10, 30, 45), 100.0)], "d timestamp, v double"
    )
    mapper = Mapper(
        {
            "y": "${Date.year(record.d)}",
            "m": "${Date.month(record.d)}",
            "dom": "${Date.dayOfMonth(record.d)}",
            "h": "${Date.hour(record.d)}",
            "plus2": "${Date.add(record.d, 2)}",
            "lg": "${Math.log(record.v)}",
            "tr": "${Math.trunc(record.v / 3)}",
        }
    )
    row = mapper.apply(df).collect()[0]
    assert (row["y"], row["m"], row["dom"], row["h"]) == (2024, 3, 15, 10)
    assert row["plus2"].day == 17
    assert abs(row["lg"] - 4.605170185988092) < 1e-12
    assert row["tr"] == 33


def test_string_format(spark):
    # Neos StringHelper::format (vsprintf) → format_string; the literal
    # args array is splatted into Spark's varargs form.
    df = spark.createDataFrame([("jane", 7)], "name string, id int")
    mapper = Mapper({"slug": '${String.format("%s-%05d", [record.name, record.id])}'})
    assert mapper.apply(df).collect()[0]["slug"] == "jane-00007"


def test_preg_helpers(spark):
    # PHP preg patterns keep their delimiters + flags; the translator
    # strips delimiters and folds flags into inline (?i) groups.
    df = spark.createDataFrame([("Item 42 of 99",)], "s string")
    mapper = Mapper(
        {
            "digits_gone": '${String.pregReplace(record.s, "/[0-9]+/", "N")}',
            "first_word": '${String.pregMatch(record.s, "/^[a-z]+/i")}',
            "second_num": '${String.pregMatchGroup(record.s, "/of ([0-9]+)/", 1)}',
        }
    )
    row = mapper.apply(df).collect()[0]
    assert row["digits_gone"] == "Item N of N"
    assert row["first_word"] == "Item"
    assert row["second_num"] == "99"


def test_preg_split_and_array_helpers(spark):
    df = spark.createDataFrame([("a  b\tc",)], "s string")
    mapper = Mapper(
        {
            "joined": '${Array.join(String.pregSplit(record.s, "/\\\\s+/"), "-")}',
            "middle": '${Array.join(Array.slice(String.pregSplit(record.s, "/\\\\s+/"), 1, 3), "+")}',
            "sorted_rev": '${Array.join(Array.reverse(Array.sort(["b", "a", "c"])), ",")}',
        }
    )
    row = mapper.apply(df).collect()[0]
    assert row["joined"] == "a-b-c"
    assert row["middle"] == "b+c"
    assert row["sorted_rev"] == "c,b,a"


def test_plus_concat_is_segment_scoped(spark):
    # the '+'→'||' rewrite must not convert the NUMERIC chain in the same
    # expression, and must reach INSIDE ternary branches and parens
    df = spark.createDataFrame([(1, "s")], "n int, s string")
    mapper = Mapper(
        {
            "branch": '${record.n + 1 == 2 ? record.s + "!" : "no"}',
            "mixed": '${record.n + 1 == 2 && record.s + "!" == "s!" ? "both" : "miss"}',
            "parens": '${(record.s + "a") + record.s}',
        }
    )
    row = mapper.apply(df).collect()[0]
    assert row["branch"] == "s!"
    assert row["mixed"] == "both"
    assert row["parens"] == "sas"


def test_array_slice_two_arg_rest_of_array(spark):
    """ADVICE fix: the 2-arg form must not overflow start+length — a
    2^31-1 length sentinel made slice() silently return [] for begin>=1."""
    df = spark.createDataFrame([("x",)], "id string")
    mapper = Mapper(
        {
            "rest": '${Array.join(Array.slice(["a", "b", "c"], 1), "-")}',
            "whole": '${Array.join(Array.slice(["a", "b", "c"], 0), "-")}',
            "window": '${Array.join(Array.slice(["a", "b", "c", "d"], 1, 3), "-")}',
        }
    )
    row = mapper.apply(df).collect()[0]
    assert row["rest"] == "b-c"
    assert row["whole"] == "a-b-c"
    assert row["window"] == "b-c"


def test_preg_replace_single_backslash_backref(spark):
    """ADVICE fix: PHP/YAML-style single-backslash backrefs (\\1) must
    convert to Java's $1 like the SQL-double-escaped form already did."""
    df = spark.createDataFrame([("ab-ab",)], "s string")
    mapper = Mapper(
        {
            "single": '${String.pregReplace(record.s, "/(a)b/", "\\1x")}',
            "dollar": '${String.pregReplace(record.s, "/(a)b/", "$1y")}',
        }
    )
    row = mapper.apply(df).collect()[0]
    assert row["single"] == "ax-ax"
    assert row["dollar"] == "ay-ay"


def test_string_crop_suffix(spark):
    """ADVICE fix: the 3-arg crop appends the suffix when it crops and
    leaves short strings untouched (Neos StringHelper::crop)."""
    df = spark.createDataFrame([("hello world", "hi")], "long string, short string")
    mapper = Mapper(
        {
            "cropped": '${String.crop(record.long, 5, "...")}',
            "untouched": '${String.crop(record.short, 5, "...")}',
            "plain": "${String.crop(record.long, 5)}",
        }
    )
    row = mapper.apply(df).collect()[0]
    assert row["cropped"] == "hello..."
    assert row["untouched"] == "hi"
    assert row["plain"] == "hello"


def test_plus_stays_numeric_around_call_args(spark):
    """ADVICE fix: a string literal inside a helper-call argument list
    must not make the surrounding '+' chain stringy —
    ${record.n + String.toInteger("5")} is numeric addition."""
    df = spark.createDataFrame([(100,)], "n int")
    mapper = Mapper(
        {
            "added": '${record.n + String.toInteger("5")}',
            "concat": '${"n=" + (record.n + String.toInteger("5"))}',
        }
    )
    row = mapper.apply(df).collect()[0]
    assert row["added"] == 105
    assert row["concat"] == "n=105"


def test_date_create_with_timezone(spark):
    """Date.create(value, tz) interprets the naive string in that zone
    (PHP DateTime semantics): noon Berlin summer time = 10:00 UTC."""
    df = spark.createDataFrame([("2020-06-01 12:00:00",)], "d string")
    mapper = Mapper(
        {
            "utc_instant": '${Date.create(record.d, "Europe/Berlin")}',
            "naive": "${Date.create(record.d)}",
        }
    )
    row = mapper.apply(df).collect()[0]
    assert row["utc_instant"].hour == 10
    assert row["naive"].hour == 12


def test_eel_variadic_helpers_and_arity_guard(spark):
    """r11 review catches: str.format silently DROPPED surplus helper
    arguments (Math.min(1,2,3) rendered least(1,2)); min/max/concat are
    now genuinely variadic and fixed-arity helpers raise."""
    from wwwision_importservice_spark.functions.eel import (
        EelTranslationError,
        translate_eel,
    )

    assert translate_eel("${Math.min(1, 2, 3)}") == "least(1, 2, 3)"
    assert translate_eel("${Math.max(record.a, record.b, 0)}") == (
        "greatest(`a`, `b`, 0)"
    )
    assert "concat(`a`, `b`, `c`)" == translate_eel(
        "${Array.concat(record.a, record.b, record.c)}"
    )
    with pytest.raises(EelTranslationError, match="takes 2"):
        translate_eel("${Math.pow(1, 2, 3)}")
    # evaluated end to end: three-way min really takes the third operand
    row = spark.sql(f"SELECT {translate_eel('${Math.min(3, 2, 1)}')} AS v").first()
    assert row["v"] == 1


def test_eel_substr_negative_offsets(spark):
    """PHP substr counts negative starts from the end; the blanket
    1-based shift broke that by one (r11 review catch)."""
    from wwwision_importservice_spark.functions.eel import translate_eel

    sql = translate_eel('${String.substr("hello", -2)}')
    assert spark.sql(f"SELECT {sql} AS v").first()["v"] == "lo"
    sql = translate_eel('${String.substr("hello", 1, 3)}')
    assert spark.sql(f"SELECT {sql} AS v").first()["v"] == "ell"
    # dynamic start takes the CASE form and agrees with PHP on both signs
    df = spark.createDataFrame([("hello", -2), ("hello", 1)], ["s", "k"])
    sql = translate_eel("${String.substr(record.s, record.k)}")
    got = [r["v"] for r in df.selectExpr(f"{sql} AS v").collect()]
    assert got == ["lo", "ello"]


def test_eel_date_format_maps_php_codes(spark):
    """Date.format takes PHP DateTime codes; passing them to Java
    unmapped silently produced week-year/minute garbage (r11 review
    catch). Literal formats map code-for-code; unknown codes raise."""
    from wwwision_importservice_spark.functions.eel import (
        EelTranslationError,
        translate_eel,
    )

    sql = translate_eel('${Date.format(record.ts, "Y-m-d H:i:s")}')
    assert "date_format(`ts`, 'yyyy-MM-dd HH:mm:ss')" == sql
    df = spark.sql("SELECT timestamp'2026-08-16 10:42:07' AS ts")
    assert df.selectExpr(f"{sql} AS v").first()["v"] == "2026-08-16 10:42:07"
    with pytest.raises(EelTranslationError, match="unsupported PHP"):
        translate_eel('${Date.format(record.ts, "Q")}')
    with pytest.raises(EelTranslationError, match="literal format"):
        translate_eel("${Date.format(record.ts, record.fmt)}")


def test_eel_date_format_expression_codes(spark):
    """PHP N (ISO day-of-week), W (ISO week, zero-padded) and lowercase
    a (am/pm) have no Spark-accepted Java pattern — 'u'/'ww' throw
    INCONSISTENT_BEHAVIOR_CROSS_VERSION at execution time and Java 'a'
    emits uppercase (r12 advisor catch). They translate as non-pattern
    expressions stitched with concat; pure pattern runs stay a single
    date_format."""
    from wwwision_importservice_spark.functions.eel import translate_eel

    # 2026-08-16 is a Sunday (ISO N=7), ISO week 33; 2024-01-01 is a
    # Monday (N=1) in ISO week 01 — the zero-pad case PHP's date('W')
    # produces and 'ww' would only match by accident.
    df = spark.sql(
        "SELECT timestamp'2026-08-16 15:42:07' AS ts "
        "UNION ALL SELECT timestamp'2024-01-01 03:05:00'"
    )
    sql = translate_eel('${Date.format(record.ts, "N")}')
    assert sorted(r["v"] for r in df.selectExpr(f"{sql} AS v").collect()) == ["1", "7"]
    sql = translate_eel('${Date.format(record.ts, "W")}')
    assert sorted(r["v"] for r in df.selectExpr(f"{sql} AS v").collect()) == ["01", "33"]
    sql = translate_eel('${Date.format(record.ts, "g:i a")}')
    got = sorted(r["v"] for r in df.selectExpr(f"{sql} AS v").collect())
    assert got == ["3:05 am", "3:42 pm"]
    # mixed pattern + expression codes compose in order
    sql = translate_eel('${Date.format(record.ts, "Y-W-N")}')
    got = sorted(r["v"] for r in df.selectExpr(f"{sql} AS v").collect())
    assert got == ["2024-01-1", "2026-33-7"]


def test_eel_date_format_escaped_literals(spark):
    """PHP backslash escapes (``\\T``) and literal quotes must survive
    the trip through BOTH quoting layers — the Java pattern's '…'
    quoting AND the single-quoted SQL literal it ships inside. The
    pre-r13 code emitted raw quotes into the SQL literal, producing
    unparseable SQL for any escaped letter (latent since r11; caught
    while adding the composite c/r formats, which hit the same bug)."""
    from wwwision_importservice_spark.functions.eel import translate_eel

    df = spark.sql("SELECT timestamp'2026-08-16 15:42:07' AS ts")

    def run(php):
        sql = translate_eel('${Date.format(record.ts, "' + php + '")}')
        return df.selectExpr(f"{sql} AS v").first()["v"]

    assert run("Y\\TH") == "2026T15"  # PHP "Y\TH": literal T
    assert run("g\\oi") == "3o42"  # escaped letter that IS a PHP code
    assert run("g'i") == "3'42"  # bare quote char in the format
    assert run("\\'") == "'"  # escaped quote
    # Adjacent escapes — the common PHP idiom ("\a\t", "\o\f") — must
    # merge into ONE quoted run: per-char runs render the '' between
    # them as a literal quote inside a single Java quoted section
    # ("a't" instead of "at"; r13 advisor catch, verified live).
    assert run("d-m-Y \\a\\t H:i") == "16-08-2026 at 15:42"
    assert run("\\t\\h\\e jS") == "the 16th"
    assert run("\\a'\\t") == "a't"  # escape + literal quote + escape: one run


def test_eel_date_format_ladder_codes(spark):
    """r13 ladder extension (VERDICT r12 ask #7): U (epoch seconds), z
    (PHP 0-based day-of-year vs Java's 1-based D — the trap), t (days
    in month), L (leap year 1/0), S (ordinal suffix, 11/12/13 all
    'th'), and the composite c (ISO-8601) / r (RFC 2822) formats. All
    pinned end-to-end on real timestamps."""
    from wwwision_importservice_spark.functions.eel import translate_eel

    # 2026-08-16: day-of-year 228 (PHP z=227), Aug has 31 days, not a
    # leap year. 2024-02-29: leap year, Feb has 29 days, z=59.
    df = spark.sql(
        "SELECT timestamp'2026-08-16 15:42:07' AS ts "
        "UNION ALL SELECT timestamp'2024-02-29 03:05:00'"
    )
    for code, expected in [
        ("z", ["227", "59"]),
        ("t", ["31", "29"]),
        ("L", ["0", "1"]),
        ("S", ["th", "th"]),  # 16th, 29th
    ]:
        sql = translate_eel(f'${{Date.format(record.ts, "{code}")}}')
        got = [r["v"] for r in df.selectExpr(f"{sql} AS v").collect()]
        assert sorted(got) == sorted(expected), (code, got)

    # U agrees with the session timezone's epoch arithmetic
    from datetime import datetime
    from zoneinfo import ZoneInfo

    tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    sql = translate_eel('${Date.format(record.ts, "U")}')
    got = sorted(int(r["v"]) for r in df.selectExpr(f"{sql} AS v").collect())
    expected = sorted(
        int(datetime(*parts, tzinfo=tz).timestamp())
        for parts in [(2026, 8, 16, 15, 42, 7), (2024, 2, 29, 3, 5, 0)]
    )
    assert got == expected

    # the S sweep: every suffix class, including the 11/12/13 override
    days = spark.sql(
        "SELECT explode(sequence(1, 31)) AS d"
    ).selectExpr("make_timestamp(2026, 1, d, 12, 0, 0) AS ts", "d")
    sql = translate_eel('${Date.format(record.ts, "jS")}')
    got = {r["d"]: r["v"] for r in days.selectExpr("d", f"{sql} AS v").collect()}
    assert got[1] == "1st" and got[2] == "2nd" and got[3] == "3rd"
    assert got[11] == "11th" and got[12] == "12th" and got[13] == "13th"
    assert got[21] == "21st" and got[22] == "22nd" and got[23] == "23rd"
    assert got[4] == "4th" and got[30] == "30th" and got[31] == "31st"

    # composite formats: c and r are single date_format patterns
    def _off(dt_parts, fmt):
        off = datetime(*dt_parts, tzinfo=tz).utcoffset()
        total = int(off.total_seconds())
        sign = "+" if total >= 0 else "-"
        total = abs(total)
        return f"{sign}{total // 3600:02d}{fmt}{(total % 3600) // 60:02d}"

    sql = translate_eel('${Date.format(record.ts, "c")}')
    assert sql.count("date_format") == 1
    got = sorted(r["v"] for r in df.selectExpr(f"{sql} AS v").collect())
    assert got == sorted(
        [
            f"2026-08-16T15:42:07{_off((2026, 8, 16, 15, 42, 7), ':')}",
            f"2024-02-29T03:05:00{_off((2024, 2, 29, 3, 5, 0), ':')}",
        ]
    )
    sql = translate_eel('${Date.format(record.ts, "r")}')
    got = sorted(r["v"] for r in df.selectExpr(f"{sql} AS v").collect())
    assert got == sorted(
        [
            f"Sun, 16 Aug 2026 15:42:07 {_off((2026, 8, 16, 15, 42, 7), '')}",
            f"Thu, 29 Feb 2024 03:05:00 {_off((2024, 2, 29, 3, 5, 0), '')}",
        ]
    )


def test_eel_ternary_inside_group_elements(spark):
    """A ternary inside an array literal or helper argument list binds
    within its own element — it used to swallow the following elements
    into the ELSE or skip rewriting entirely (r11 review catch)."""
    from wwwision_importservice_spark.functions.eel import translate_eel

    sql = translate_eel("${[record.a ? 1 : 2, 5]}")
    df = spark.createDataFrame([(True,), (False,)], ["a"])
    got = [r["v"] for r in df.selectExpr(f"{sql} AS v").collect()]
    assert got == [[1, 5], [2, 5]]
    sql = translate_eel("${Math.min(record.a ? 1 : 9, 5)}")
    got = [r["v"] for r in df.selectExpr(f"{sql} AS v").collect()]
    assert got == [1, 5]


def test_eel_plus_chain_literal_fold(spark):
    """Eel evaluates 1 + 2 + \"x\" left-to-right as '3x'; converting
    the whole chain to || gave '12x' (r11 review catch). Leading
    numeric literals keep arithmetic +."""
    from wwwision_importservice_spark.functions.eel import translate_eel

    sql = translate_eel('${1 + 2 + "x"}')
    assert spark.sql(f"SELECT {sql} AS v").first()["v"] == "3x"
    sql = translate_eel('${"x" + 1 + 2}')  # string first: all concat
    assert spark.sql(f"SELECT {sql} AS v").first()["v"] == "x12"


def test_case_mappings_match_icu_without_it(spark):
    """get_spark turns Spark's ICU case mappings off (their one-time
    table costs seconds on a cold JVM); upper/lower give the results
    they gave with ICU on for ASCII, German sharp s and Greek final
    sigma."""
    from wwwision_importservice_spark.session import local_frame

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    df = local_frame(
        spark, "x string", [("Hello World 123",), ("straße",), ("ΣΑΣ ΑΣ",)]
    )
    mapper = Mapper({
        "x": "${record.x}",
        "u": "${String.toUpperCase(record.x)}",
        "l": "${String.toLowerCase(record.x)}",
    })
    got = sorted(tuple(r) for r in mapper.apply(df).collect())
    assert got == sorted([
        ("Hello World 123", "HELLO WORLD 123", "hello world 123"),
        ("straße", "STRASSE", "straße"),
        ("ΣΑΣ ΑΣ", "ΣΑΣ ΑΣ", "σας ας"),
    ])
