"""NL→SQL copilot guardrails (SURVEY.md §2.8 F13–F15, §2.6 O4).

The reference's AI copilot prompts an LLM for SQL, then defends the
warehouse with: ```` ```sql ```` fence extraction (reference
``ai/rag_api/main.py:80-81``), a SELECT-only keyword deny-list
(``ai/rag_api/app.py:167-176``), a hard LIMIT wrap
(``ai/rag_api/app.py:177``: ``SELECT * FROM (<stmt>) AS safe_view LIMIT
n``), and a schema-prefix rewrite (``ai/rag_api/main.py:146-147``). Here
the deny-list is Spark's own parser: a keyword regex refuses valid reads
(``LIKE '%delete%'``, a column aliased ``set``) and passes calls that run
code (``reflect``, ``TRANSFORM ... USING``).

The LLM itself stays behind an injectable interface (``SqlTranslator``);
the engine-relevant, deterministic parts are below and execute via
``spark.sql``. Spark has no connection-level read-only mode (S7), so
SELECT-only enforcement at this layer IS the read-only guarantee.
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

from f1_lakehouse_spark.analytics import to_client

DEFAULT_MAX_ROWS = 200  # reference .env.example:8 AI_MAX_ROWS

_FENCE_RE = re.compile(r"```(?:sql)?\s*(.+?)```", re.DOTALL | re.IGNORECASE)
_LOGICAL = "org.apache.spark.sql.catalyst.plans.logical."
# Parsed-plan node kinds a read may not contain: every Command (DDL, DML,
# SET, EXPLAIN, CACHE, ...), the two inserts that are not Commands, and a
# script transformation (``TRANSFORM ... USING 'cmd'`` runs a shell command).
_REFUSED_NODES = tuple(
    _LOGICAL + n
    for n in ("Command", "InsertIntoStatement", "InsertIntoDir", "ScriptTransformation")
)
# SQL functions that call any static Java method (CallMethodViaReflection),
# and their call as an analyzed plan prints it
_REFLECTION_FUNCTIONS = frozenset({"reflect", "java_method", "try_reflect"})
_REFLECTION_CALL = re.compile(rf"\b(?:{'|'.join(sorted(_REFLECTION_FUNCTIONS))})\(")


class GuardrailError(ValueError):
    pass


def extract_sql(text: str) -> str:
    """F13: pull SQL out of a ```sql fenced block; else use text as-is."""
    m = _FENCE_RE.search(text)
    sql = (m.group(1) if m else text).strip().rstrip(";").strip()
    return sql


def _tree_nodes(tree):
    """Every node of a ``TreeNode.toJSON`` tree: plan nodes, expressions
    and the plans nested in them (subqueries, CTE bodies)."""
    stack = [tree]
    while stack:
        x = stack.pop()
        if isinstance(x, list):
            stack.extend(x)
        elif isinstance(x, dict):
            if "class" in x:
                yield x
            stack.extend(x.values())


@functools.lru_cache(maxsize=None)
def _refused_node(jvm, class_name: str) -> bool:
    forname = jvm.java.lang.Class.forName
    try:
        cls = forname(class_name)
    except (PySparkException, Py4JError):
        return True  # a node kind that cannot be checked is refused
    return any(forname(r).isAssignableFrom(cls) for r in _REFUSED_NODES)


def validate_select_only(spark: SparkSession, sql: str) -> str:
    """F14: require a leading SELECT/WITH, then parse with the session's SQL
    parser and refuse text that is not exactly one statement, any
    Command, insert or script-transformation node, and any reflection
    call. Nothing is resolved or run."""
    stripped = sql.strip()
    if not re.match(r"(?is)^(select|with)\b", stripped):
        raise GuardrailError("only SELECT statements are allowed")
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(stripped)
        tree = json.loads(plan.toJSON())
    except (PySparkException, Py4JError, ValueError) as exc:
        raise GuardrailError(f"statement does not parse as one query: {exc}") from exc
    for node in _tree_nodes(tree):
        cls = node["class"]
        if _refused_node(spark._jvm, cls):
            raise GuardrailError(f"{cls.rsplit('.', 1)[-1]} is not a read-only query")
        if cls.endswith(".UnresolvedFunction"):
            fn = node["nameParts"].strip("[]").split(", ")[-1].lower()
            if fn in _REFLECTION_FUNCTIONS:
                raise GuardrailError(f"{fn} calls Java methods and is not allowed")
    return stripped


def rewrite_schema_names(sql: str, mapping: dict[str, str]) -> str:
    """F15: rewrite `silver.` → resolved schema prefixes."""
    for src, dst in mapping.items():
        sql = re.sub(rf"\b{re.escape(src)}\.", f"{dst}.", sql)
    return sql


def wrap_limit(sql: str, max_rows: int = DEFAULT_MAX_ROWS) -> str:
    """O4: hard row-cap wrap — identical trick works verbatim in Spark SQL.
    The newline ends a trailing ``--`` comment before the closing paren."""
    return f"SELECT * FROM ({sql}\n) AS safe_view LIMIT {int(max_rows)}"


def guarded_sql(
    spark: SparkSession,
    raw_text: str,
    max_rows: int = DEFAULT_MAX_ROWS,
    schema_mapping: dict[str, str] | None = None,
) -> str:
    """The statement the guarded path runs: extract → validate → rewrite
    → cap."""
    sql = validate_select_only(spark, extract_sql(raw_text))
    if schema_mapping:
        sql = rewrite_schema_names(sql, schema_mapping)
    return wrap_limit(sql, max_rows)


def _guarded_frame(spark: SparkSession, sql: str) -> DataFrame:
    """``spark.sql`` of a guarded statement, refused when its analyzed plan
    resolves a reflection call the parsed text hid (a function named
    through ``IDENTIFIER('reflect')``, a ``WINDOW`` clause definition).
    Analysis runs no job."""
    df = spark.sql(sql)
    # every field printed (maxFields = Int.MaxValue), subqueries included
    tree = df._jdf.queryExecution().analyzed().treeString(True, False, 2**31 - 1, False, False)
    if _REFLECTION_CALL.search(tree):
        raise GuardrailError("statement calls Java methods through reflection")
    return df


def execute_guarded(
    spark: SparkSession,
    raw_text: str,
    max_rows: int = DEFAULT_MAX_ROWS,
    schema_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Full guarded path: :func:`guarded_sql` → spark.sql."""
    return _guarded_frame(spark, guarded_sql(spark, raw_text, max_rows, schema_mapping))


# --- NL→SQL translator interface (LLM stays injectable; see §3.3) -----------

SqlTranslator = Callable[[str, str], str]
"""(question, schema_doc) -> SQL text (possibly fenced)."""


@dataclass
class TemplateTranslator:
    """Deterministic, network-free stand-in for the reference's Ollama call:
    matches the question against a small template table. Tests and offline
    runs use this; a real LLM client implements the same callable."""

    templates: dict[str, str]

    def __call__(self, question: str, schema_doc: str) -> str:
        q = question.lower()
        for needle, sql in self.templates.items():
            if needle in q:
                return sql
        raise GuardrailError(f"no template matches question: {question!r}")


def ask(
    spark: SparkSession,
    question: str,
    translator: SqlTranslator,
    schema_doc: str = "",
    max_rows: int = DEFAULT_MAX_ROWS,
    schema_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """The copilot `/ask` endpoint shape (reference ai/rag_api/app.py:190-225)
    minus HTTP: translate → guard → execute."""
    raw = translator(question, schema_doc)
    return execute_guarded(spark, raw, max_rows=max_rows, schema_mapping=schema_mapping)


# --- JSON-payload response parsing (deployed reference variant) --------------


def parse_ai_response(content: str) -> dict:
    """The deployed reference's response parser (``ai/rag_api/app.py:154-164``):
    the model is asked for a JSON body ``{"sql": ..., "chart_type": ...,
    "chart_fields": ..., "justification": ...}``; a leading code fence is
    stripped before parsing. Raises GuardrailError on non-JSON content (the
    caller can then fall back to plain ```sql fence extraction)."""
    import json

    cleaned = content.strip()
    if cleaned.startswith("```"):
        # drop the opening fence line (``` or ```json), keep up to the close
        cleaned = cleaned.split("\n", 1)[1] if "\n" in cleaned else ""
        if "```" in cleaned:
            cleaned = cleaned.split("```", 1)[0]
    try:
        parsed = json.loads(cleaned)
    except json.JSONDecodeError as exc:
        raise GuardrailError(f"AI response was not valid JSON: {exc}") from exc
    if not isinstance(parsed, dict):
        raise GuardrailError("AI response JSON must be an object")
    return parsed


# --- chart-type suggestion (reference ai/rag_api/main.py:90-96) --------------

_TREND_COLUMNS = frozenset({"lapnumber", "round", "season"})
_BAR_MAX_ROWS = 25


def suggest_chart(df: DataFrame, row_count: int) -> str:
    """Suggest a chart type from the result shape, mirroring the reference
    heuristic (``ai/rag_api/main.py:90-96``): numeric column + a trend-ish
    axis column (lapnumber/round/season) → line; numeric + ≤25 rows → bar;
    else table. ``row_count`` is the materialized result's; no job runs."""
    from pyspark.sql.types import NumericType

    numeric = [
        f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
    ]
    if not numeric:
        return "table"
    lowered = {c.lower() for c in df.columns}
    if lowered & _TREND_COLUMNS:
        return "line"
    if row_count <= _BAR_MAX_ROWS:
        return "bar"
    return "table"


def ask_json(
    spark: SparkSession,
    question: str,
    translator: SqlTranslator,
    schema_doc: str = "",
    max_rows: int = DEFAULT_MAX_ROWS,
    schema_mapping: dict[str, str] | None = None,
) -> dict:
    """The deployed `/ask` contract (``ai/rag_api/app.py:199-225``): the
    translator returns either a JSON payload (sql/chart_type/justification)
    or a fenced-SQL text; both paths run the same guardrails, and the
    response carries the executed DataFrame, its rows (materialized once
    through ``analytics.to_client``) and a chart suggestion —
    payload-provided ``chart_type`` wins, shape heuristic over the row
    count is the fallback (``main.py``'s ``AskOut.chart`` behaviour)."""
    raw = translator(question, schema_doc)
    chart = None
    message = "Query executed successfully."
    try:
        payload = parse_ai_response(raw)
    except GuardrailError:
        sql_text = raw  # plain / fenced-SQL fallback (main.py variant)
    else:
        sql_text = payload.get("sql", "")
        if not sql_text:
            raise GuardrailError("AI did not provide SQL")
        chart = payload.get("chart_type")
        message = payload.get("justification") or message
    sql = guarded_sql(spark, sql_text, max_rows, schema_mapping)
    df = _guarded_frame(spark, sql)
    rows = to_client(df)
    return {
        "sql": sql,
        "df": df,
        "rows": rows,
        "chart": chart or suggest_chart(df, len(rows)),
        "message": message,
    }
