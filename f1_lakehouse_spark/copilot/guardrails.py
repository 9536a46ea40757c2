"""NL→SQL copilot guardrails (SURVEY.md §2.8 F13–F15, §2.6 O4).

The reference's AI copilot prompts an LLM for SQL, then defends the
warehouse with: ```` ```sql ```` fence extraction (reference
``ai/rag_api/main.py:80-81``), a SELECT-only keyword deny-list
(``ai/rag_api/app.py:167-176``), a hard LIMIT wrap
(``ai/rag_api/app.py:177``: ``SELECT * FROM (<stmt>) AS safe_view LIMIT
n``), and a schema-prefix rewrite (``ai/rag_api/main.py:146-147``).

The LLM itself stays behind an injectable interface (``SqlTranslator``);
the engine-relevant, deterministic parts are below and execute via
``spark.sql``. Spark has no connection-level read-only mode (S7), so
SELECT-only enforcement at this layer IS the read-only guarantee.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

DEFAULT_MAX_ROWS = 200  # reference .env.example:8 AI_MAX_ROWS

_FENCE_RE = re.compile(r"```(?:sql)?\s*(.+?)```", re.DOTALL | re.IGNORECASE)
_DENY_RE = re.compile(
    r"\b(insert|update|delete|drop|alter|create|truncate|merge|grant|vacuum|call|set)\b",
    re.IGNORECASE,
)


class GuardrailError(ValueError):
    pass


def extract_sql(text: str) -> str:
    """F13: pull SQL out of a ```sql fenced block; else use text as-is."""
    m = _FENCE_RE.search(text)
    sql = (m.group(1) if m else text).strip().rstrip(";").strip()
    return sql


def validate_select_only(sql: str) -> str:
    """F14: require a leading SELECT/WITH and reject mutating keywords."""
    stripped = sql.lstrip()
    if not re.match(r"(?is)^(select|with)\b", stripped):
        raise GuardrailError("only SELECT statements are allowed")
    if _DENY_RE.search(stripped):
        raise GuardrailError("statement contains a denied keyword")
    if ";" in stripped:
        raise GuardrailError("multiple statements are not allowed")
    return stripped


def rewrite_schema_names(sql: str, mapping: dict[str, str]) -> str:
    """F15: rewrite `silver.` → resolved schema prefixes."""
    for src, dst in mapping.items():
        sql = re.sub(rf"\b{re.escape(src)}\.", f"{dst}.", sql)
    return sql


def wrap_limit(sql: str, max_rows: int = DEFAULT_MAX_ROWS) -> str:
    """O4: hard row-cap wrap — identical trick works verbatim in Spark SQL."""
    return f"SELECT * FROM ({sql}) AS safe_view LIMIT {int(max_rows)}"


def guarded_sql(
    raw_text: str,
    max_rows: int = DEFAULT_MAX_ROWS,
    schema_mapping: dict[str, str] | None = None,
) -> str:
    """The statement the guarded path runs: extract → validate → rewrite
    → cap."""
    sql = validate_select_only(extract_sql(raw_text))
    if schema_mapping:
        sql = rewrite_schema_names(sql, schema_mapping)
    return wrap_limit(sql, max_rows)


def execute_guarded(
    spark: SparkSession,
    raw_text: str,
    max_rows: int = DEFAULT_MAX_ROWS,
    schema_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Full guarded path: :func:`guarded_sql` → spark.sql."""
    return spark.sql(guarded_sql(raw_text, max_rows, schema_mapping))


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


def suggest_chart(df: DataFrame, row_count: int | None = None) -> str:
    """Suggest a chart type from the result shape, mirroring the reference
    heuristic (``ai/rag_api/main.py:90-96``): numeric column + a trend-ish
    axis column (lapnumber/round/season) → line; numeric + ≤25 rows → bar;
    else table. ``row_count`` avoids a second count when the caller already
    materialized; otherwise a LIMIT-bounded count is used (never a full
    scan — only "is it ≤ 25" matters)."""
    from pyspark.sql.types import NumericType

    numeric = [
        f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
    ]
    if not numeric:
        return "table"
    lowered = {c.lower() for c in df.columns}
    if lowered & _TREND_COLUMNS:
        return "line"
    if row_count is None:
        row_count = df.limit(_BAR_MAX_ROWS + 1).count()
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
    response carries the executed DataFrame plus a chart suggestion —
    payload-provided ``chart_type`` wins, shape heuristic is the fallback
    (``main.py``'s ``AskOut.chart`` behaviour)."""
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
    sql = guarded_sql(sql_text, max_rows, schema_mapping)
    df = spark.sql(sql)
    return {
        "sql": sql,
        "df": df,
        "chart": chart or suggest_chart(df),
        "message": message,
    }
