"""MySQL-dialect SQL text execution — the reference's actual user
interface (its whole query surface is raw MySQL strings,
reference sql/analysis_queries.sql:1-91, executed server-side §3.3).

A reference user switching to this engine keeps their SQL: dialect gaps
are bridged with Spark-4 **SQL-defined functions** (JVM-side, inlined by
Catalyst at plan time — no Python UDF slow path) plus a minimal token
rewrite for the three MySQL names Spark either lacks or defines
differently:

- ``DAYNAME(d)``      — MySQL returns 'Wednesday'; Spark 4's builtin
  ``dayname`` returns 'Wed' and cannot be shadowed, so the rewrite maps
  to ``MYSQL_DAYNAME`` (locale-free: weekday name from ``dayofweek``,
  never ``date_format(d,'EEEE')`` which follows the JVM locale;
  SURVEY.md §2 G1).
- ``DATE_FORMAT(ts, '%Y-%m')`` — %-token patterns translated to
  JDK patterns inside ``MYSQL_DATE_FORMAT`` (G2/G13).
- ``FIELD(x, v1, ...)`` — no Spark builtin, and SQL UDFs are rejected
  inside Sort, where the reference uses it (``ORDER BY FIELD(...)``) —
  so the translator INLINES it as a native
  ``coalesce(array_position(array(...), x), 0)`` expression (any arity,
  any clause), preserving the MySQL contract including absent-value →
  0, which sorts first (G5; SURVEY.md §7 hard-part 2).

All rewrites are **string-literal-aware**: quoted strings are never
rewritten (``WHERE note = 'see DATE_FORMAT(x)'`` stays intact).

``exact_decimal_sums=True`` additionally routes every ``SUM(x)`` through
``DECIMAL(18,2)`` and back to ``DOUBLE`` — the engine's deterministic-
aggregation mode (same policy as ``expressions.exact_decimal_sum``:
double summation is order-dependent, so partial aggregation order would
make results differ run-to-run; decimal summation is exact). Used for
the reference's verbatim Qe/Qf money/metric sums.

Known divergence (documented, not shimmed): MySQL's default collation
makes ``LIKE`` case-insensitive; Spark's is case-sensitive. The
reference's Qf patterns are uppercase against uppercase data, so both
engines agree there; general-case parity would use Spark 4 collations
(``COLLATE UTF8_LCASE``) per column.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from . import catalog

SHIM_DDL = [
    # locale-free weekday name: element_at over dayofweek (1=Sunday..7),
    # mirroring expressions.dayname — date_format(d,'EEEE') would follow
    # the driver JVM's default locale
    """CREATE OR REPLACE TEMPORARY FUNCTION MYSQL_DAYNAME(d DATE)
       RETURNS STRING RETURN element_at(
         array('Sunday','Monday','Tuesday','Wednesday','Thursday',
               'Friday','Saturday'), dayofweek(d))""",
    """CREATE OR REPLACE TEMPORARY FUNCTION MYSQL_DATE_FORMAT(ts TIMESTAMP, fmt STRING)
       RETURNS STRING RETURN date_format(ts,
         replace(replace(replace(replace(replace(fmt,
           '%Y', 'yyyy'), '%m', 'MM'), '%d', 'dd'), '%H', 'HH'), '%i', 'mm'))""",
]

_REWRITES = [
    (re.compile(r"\bDAYNAME\s*\(", re.IGNORECASE), "MYSQL_DAYNAME("),
    (re.compile(r"\bDATE_FORMAT\s*\(", re.IGNORECASE), "MYSQL_DATE_FORMAT("),
]

_FIELD_CALL = re.compile(r"\bFIELD\s*\(", re.IGNORECASE)
_SUM_CALL = re.compile(r"\bSUM\s*\(", re.IGNORECASE)
_LIKE_TOKEN = re.compile(r"\b(NOT\s+)?LIKE\b", re.IGNORECASE)

# every name the engine can register as a temp view (base fixtures +
# the two reference-shaped derived views)
_ALL_VIEWS = (*catalog.BASE_TABLES, "violations", "weather_daily")


def enable_mysql_compat(spark: SparkSession) -> None:
    """Register the dialect-shim SQL functions (idempotent)."""
    for ddl in SHIM_DDL:
        spark.sql(ddl)


def _literal_spans(text: str) -> list[tuple[int, int]]:
    """[start, end) spans of single/double-quoted string literals.

    Backslash-escaped quotes (``'O\\'Brien'``) stay INSIDE their
    literal — MySQL's default escape syntax, which Spark's parser also
    accepts. Without the skip, the escaped quote ended the span early
    and the literal's real closing quote opened a phantom literal that
    swallowed the following code region, misrouting every rewrite
    after it (r10 review). Doubled quotes (``'O''Brien'``) need no
    special case: they scan as two adjacent spans whose union covers
    the literal."""
    spans, i, n = [], 0, len(text)
    while i < n:
        ch = text[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n and text[j] != ch:
                j += 2 if text[j] == "\\" else 1
            spans.append((i, min(j + 1, n)))
            i = j + 1
        else:
            i += 1
    return spans


def _outside(pos: int, spans: list[tuple[int, int]]) -> bool:
    return not any(s <= pos < e for s, e in spans)


def _sub_outside_literals(pat: re.Pattern, repl, text: str) -> str:
    """``pat.sub(repl, text)`` skipping matches inside string literals;
    ``repl`` may be a string or a match→string callable."""
    spans = _literal_spans(text)
    out, last = [], 0
    for m in pat.finditer(text):
        if _outside(m.start(), spans):
            out.append(text[last : m.start()])
            out.append(repl(m) if callable(repl) else repl)
            last = m.end()
    out.append(text[last:])
    return "".join(out)


def _closing_paren(text: str, start: int) -> int:
    """Index one past the ')' matching an already-open paren at
    ``start`` (quote-aware balanced scan)."""
    depth, i, quote = 1, start, None
    while i < len(text) and depth:
        ch = text[i]
        if quote:
            if ch == "\\":  # escaped char stays inside the literal
                i += 1
            elif ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    return i


def _split_top_level(args: str) -> list[str]:
    """Split an argument list on commas not nested in parens/quotes."""
    parts, depth, buf, quote, esc = [], 0, [], None, False
    for ch in args:
        if quote:
            buf.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
            continue
        if ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf).strip())
    return parts


def _inline_field(text: str) -> str:
    """Inline every FIELD(x, v1, ...) as a native array_position
    expression (SQL UDFs are not allowed inside Sort, where MySQL users
    put FIELD)."""
    while True:
        spans = _literal_spans(text)
        m = next(
            (
                m
                for m in _FIELD_CALL.finditer(text)
                if _outside(m.start(), spans)
            ),
            None,
        )
        if m is None:
            return text
        i = _closing_paren(text, m.end())
        args = _split_top_level(text[m.end() : i - 1])
        x, values = args[0], args[1:]
        repl = f"int(coalesce(array_position(array({', '.join(values)}), {x}), 0))"
        text = text[: m.start()] + repl + text[i:]


def _route_decimal_sums(text: str) -> str:
    """SUM(x) → CAST(SUM(CAST((x) AS DECIMAL(18,2))) AS DOUBLE).

    Matches are rewritten right-to-left so the SUM token inside each
    replacement is never rescanned. A leading DISTINCT (or ALL)
    quantifier stays OUTSIDE the inner cast — wrapping the whole
    ``DISTINCT x`` in CAST generated unparseable SQL for verbatim
    MySQL ``SUM(DISTINCT ...)`` (r10 review).
    """
    spans = _literal_spans(text)
    matches = [
        m for m in _SUM_CALL.finditer(text) if _outside(m.start(), spans)
    ]
    for m in reversed(matches):
        i = _closing_paren(text, m.end())
        arg = text[m.end() : i - 1].strip()
        q = re.match(r"(?i)(DISTINCT|ALL)\b", arg)
        quant = f"{q.group(1)} " if q else ""
        inner = arg[q.end() :].strip() if q else arg
        repl = (
            f"CAST(SUM({quant}CAST(({inner}) AS DECIMAL(18,2))) AS DOUBLE)"
        )
        text = text[: m.start()] + repl + text[i:]
    return text


def translate(
    text: str,
    exact_decimal_sums: bool = False,
    ci_like: bool = False,
) -> str:
    """Rewrite MySQL-only constructs to Spark-executable equivalents.

    ``ci_like=True`` emulates MySQL's default case-insensitive collation
    for pattern matching by rewriting ``[NOT] LIKE`` → ``[NOT] ILIKE``
    (closing the one documented dialect divergence for ASCII patterns;
    full accent-insensitive parity would collate columns UTF8_LCASE).
    """
    for pat, repl in _REWRITES:
        text = _sub_outside_literals(pat, repl, text)
    text = _inline_field(text)
    if ci_like:
        text = _sub_outside_literals(
            _LIKE_TOKEN,
            lambda m: ("NOT ILIKE" if m.group(1) else "ILIKE"),
            text,
        )
    if exact_decimal_sums:
        text = _route_decimal_sums(text)
    return text


def referenced_tables(text: str) -> set[str]:
    """Registrable table/view names a query's text mentions (outside
    string literals). Conservative word-boundary scan — over-matching a
    name in a comment costs one cheap extra registration, never a wrong
    result."""
    masked = text
    for s, e in reversed(_literal_spans(text)):
        masked = masked[:s] + " " * (e - s) + masked[e:]
    return {
        name
        for name in _ALL_VIEWS
        if re.search(rf"\b{name}\b", masked, re.IGNORECASE)
    }


def run_sql(
    spark: SparkSession,
    sf_dir: str,
    text: str,
    exact_decimal_sums: bool = False,
    ci_like: bool = False,
) -> DataFrame:
    """Run one MySQL-dialect query string against the engine's tables
    (``violations`` / ``weather_daily`` + the base fixtures), exactly as
    a reference user would against their MySQL instance.

    Registration is LAZY (only tables the text references) and runs no
    Spark job (``catalog.register_views``): a violations-only query
    never touches the other fixtures, and the fixtures it does read
    come with their memoized schema.
    """
    catalog.register_views(spark, sf_dir, referenced_tables(text))
    enable_mysql_compat(spark)
    return spark.sql(
        translate(text, exact_decimal_sums=exact_decimal_sums, ci_like=ci_like)
    )
