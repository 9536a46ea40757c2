"""Copilot guardrails: fence extraction, SELECT-only validation, schema
rewrite, LIMIT wrap, and the full ask() path against real tables."""

from __future__ import annotations

import pytest

from f1_lakehouse_spark.copilot.guardrails import (
    GuardrailError,
    TemplateTranslator,
    ask,
    execute_guarded,
    extract_sql,
    guarded_sql,
    rewrite_schema_names,
    validate_select_only,
    wrap_limit,
)
from f1_lakehouse_spark.tables import load_table
from tests.conftest import SF_DIR


def test_extract_sql_fenced():
    assert extract_sql("junk\n```sql\nSELECT 1\n```\nmore") == "SELECT 1"
    assert extract_sql("```\nSELECT 2;\n```") == "SELECT 2"
    assert extract_sql("SELECT 3") == "SELECT 3"


@pytest.mark.parametrize(
    "bad",
    [
        "DROP TABLE lineitem",
        "INSERT INTO t VALUES (1)",
        "SELECT 1; DROP TABLE t",
        "WITH x AS (SELECT 1) DELETE FROM t",
        "UPDATE t SET a=1",
        "EXPLAIN SELECT 1",
    ],
)
def test_validate_rejects(spark, bad):
    with pytest.raises(GuardrailError):
        validate_select_only(spark, bad)


def test_validate_accepts(spark):
    assert validate_select_only(spark, "SELECT * FROM t").startswith("SELECT")
    assert validate_select_only(spark, "  with x as (select 1) select * from x")


_REFLECT = "reflect('java.lang.Thread','sleep',CAST(1500 AS BIGINT))"


@pytest.mark.parametrize(
    "bad",
    [
        # Commands below a leading WITH
        "WITH x AS (SELECT 1) UPDATE t SET a = 1",
        "WITH s AS (SELECT 1 AS a) MERGE INTO t USING s ON t.a = s.a "
        "WHEN MATCHED THEN DELETE",
        # inserts are not Commands in the parsed plan
        "WITH x AS (SELECT 1) INSERT INTO t SELECT * FROM x",
        "WITH x AS (SELECT 1) INSERT OVERWRITE DIRECTORY '/tmp/out' SELECT * FROM x",
        # reflection runs any static Java method, in any position
        f"SELECT {_REFLECT} AS r",
        "SELECT java_method('java.lang.System', 'exit', 1) AS r",
        "SELECT try_reflect('java.lang.System', 'exit', 1) AS r",
        f"SELECT system.builtin.{_REFLECT} AS r",
        f"SELECT (SELECT max({_REFLECT}) FROM t) AS r",
        f"WITH x AS (SELECT {_REFLECT} AS r) SELECT * FROM x",
        # a script transformation runs a shell command
        "SELECT TRANSFORM(a) USING 'cat' AS (b) FROM t",
        # text that does not parse: two statements, an open parenthesis
        "SELECT 1 FROM t; SET spark.sql.ansi.enabled=true",
        "SELECT (1 FROM t",
    ],
)
def test_guard_refuses_hidden_writes_and_code(spark, bad):
    with pytest.raises(GuardrailError):
        guarded_sql(spark, bad)


@pytest.mark.parametrize(
    "good",
    [
        "SELECT o_orderkey FROM orders_kw WHERE o_orderpriority LIKE '%delete%'",
        "SELECT o_orderstatus AS set FROM orders_kw",
    ],
)
def test_guard_accepts_reads_with_keywords(spark, good):
    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("orders_kw")
    df = execute_guarded(spark, good, max_rows=5)
    assert df.count() <= 5


@pytest.mark.parametrize(
    "hidden",
    [
        "SELECT IDENTIFIER('reflect')('java.lang.Math', 'abs', -1) AS r",
        "SELECT sum(id) OVER w AS s FROM range(3) "
        "WINDOW w AS (PARTITION BY java_method('java.lang.Math', 'abs', id))",
    ],
)
def test_guard_refuses_reflection_resolved_at_analysis(spark, hidden):
    with pytest.raises(GuardrailError):
        execute_guarded(spark, hidden)


def test_schema_rewrite():
    out = rewrite_schema_names("SELECT * FROM silver.laps", {"silver": "main_silver"})
    assert out == "SELECT * FROM main_silver.laps"


def test_wrap_limit():
    assert wrap_limit("SELECT 1", 7) == "SELECT * FROM (SELECT 1\n) AS safe_view LIMIT 7"


def test_execute_guarded_caps_rows(spark):
    load_table(spark, SF_DIR, "nation").createOrReplaceTempView("nation_v")
    df = execute_guarded(spark, "```sql\nSELECT * FROM nation_v\n```", max_rows=10)
    assert df.count() == 10


def test_trailing_line_comment_keeps_the_row_cap(spark):
    from f1_lakehouse_spark.copilot.guardrails import ask_json

    load_table(spark, SF_DIR, "nation").createOrReplaceTempView("nation_c")
    df = execute_guarded(
        spark, "```sql\nSELECT * FROM nation_c -- every nation\n```", max_rows=3
    )
    assert df.count() == 3
    translator = TemplateTranslator(
        {
            "nations": '{"sql": "SELECT n_nationkey FROM nation_c -- the keys"}',
            "count": "SELECT COUNT(*) AS n FROM nation_c -- how many",
        }
    )
    assert len(ask_json(spark, "nations", translator, max_rows=4)["rows"]) == 4
    assert ask_json(spark, "count", translator)["rows"]["n"].tolist() == [25]


def test_ask_end_to_end(spark):
    load_table(spark, SF_DIR, "region").createOrReplaceTempView("region_v")
    translator = TemplateTranslator(
        {"how many regions": "SELECT COUNT(*) AS n FROM region_v"}
    )
    df = ask(spark, "How many regions are there?", translator)
    assert df.collect()[0]["n"] == 5
    with pytest.raises(GuardrailError):
        ask(spark, "unmatched question", translator)


# --- JSON payload parsing (deployed reference, app.py:154-164) ----------------


def test_parse_ai_response_plain_json():
    from f1_lakehouse_spark.copilot.guardrails import parse_ai_response

    out = parse_ai_response('{"sql": "SELECT 1", "chart_type": "bar"}')
    assert out == {"sql": "SELECT 1", "chart_type": "bar"}


def test_parse_ai_response_fenced_json():
    from f1_lakehouse_spark.copilot.guardrails import parse_ai_response

    out = parse_ai_response('```json\n{"sql": "SELECT 1"}\n```')
    assert out["sql"] == "SELECT 1"
    # bare fence without language tag too
    out = parse_ai_response('```\n{"sql": "SELECT 2"}\n```')
    assert out["sql"] == "SELECT 2"


@pytest.mark.parametrize("bad", ["not json at all", "```\nstill not json\n```", "[1,2]"])
def test_parse_ai_response_rejects(bad):
    from f1_lakehouse_spark.copilot.guardrails import parse_ai_response

    with pytest.raises(GuardrailError):
        parse_ai_response(bad)


# --- chart suggestion heuristic (main.py:90-96) -------------------------------


def test_suggest_chart_shapes(spark):
    from f1_lakehouse_spark.copilot.guardrails import suggest_chart

    line = spark.createDataFrame(
        [(1, 2.0)], "lapnumber int, median_laptime double"
    )
    assert suggest_chart(line, 1) == "line"
    bar = spark.createDataFrame([("a", 1.0)], "team string, pts double")
    assert suggest_chart(bar, 1) == "bar"  # numeric + 1 row <= 25
    table_wide = spark.createDataFrame(
        [(str(i),) for i in range(30)], "name string"
    )
    assert suggest_chart(table_wide, 30) == "table"  # no numeric column
    big = spark.createDataFrame([(i, float(i)) for i in range(40)], "k int, v double")
    assert suggest_chart(big, 40) == "table"  # numeric but > 25 rows, no trend axis


def test_ask_json_payload_and_fallback(spark):
    from f1_lakehouse_spark.copilot.guardrails import ask_json

    load_table(spark, SF_DIR, "region").createOrReplaceTempView("region_v2")
    translator = TemplateTranslator(
        {
            # deployed variant: JSON body with chart_type + justification
            "regions by key": '{"sql": "SELECT r_regionkey, r_name FROM region_v2",'
            ' "chart_type": "bar", "justification": "small lookup"}',
            # legacy variant: fenced SQL only → heuristic chart
            "region names": "```sql\nSELECT r_regionkey, r_name FROM region_v2\n```",
            # JSON present but mutating SQL → guardrail fires after parse
            "drop regions": '{"sql": "DROP TABLE region_v2"}',
            # schema-prefixed SQL, resolved through schema_mapping
            "gold regions": '{"sql": "SELECT r_regionkey, r_name FROM gold.region_g"}',
        }
    )
    out = ask_json(spark, "show regions by key", translator)
    assert out["chart"] == "bar" and out["message"] == "small lookup"
    assert out["df"].count() == 5
    assert sorted(out["rows"]["r_regionkey"]) == [0, 1, 2, 3, 4]
    assert out["sql"].startswith("SELECT * FROM (")

    out2 = ask_json(spark, "list region names", translator)
    assert out2["chart"] == "bar"  # heuristic: numeric col, 5 rows
    assert out2["df"].count() == 5

    with pytest.raises(GuardrailError):
        ask_json(spark, "please drop regions", translator)

    # the reported SQL is the statement that ran, schema rewrite included
    load_table(spark, SF_DIR, "region").createOrReplaceGlobalTempView("region_g")
    out3 = ask_json(
        spark, "gold regions", translator, schema_mapping={"gold": "global_temp"}
    )
    assert out3["sql"] == (
        "SELECT * FROM (SELECT r_regionkey, r_name FROM global_temp.region_g\n)"
        " AS safe_view LIMIT 200"
    )
    assert out3["df"].count() == 5
