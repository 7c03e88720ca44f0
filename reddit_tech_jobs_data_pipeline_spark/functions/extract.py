"""Enrichment expression library — reference UDFs as native Column builders.

The reference applies three row-wise Python functions with pandas
``.apply`` (dags/dag.py:17-39, 41-69, 71-142). Here each one is a function
that *returns a Column* built from JVM-side Catalyst expressions
(regexp_extract / coalesce / nullif / higher-order array functions), so the
whole enrichment stage stays inside whole-stage codegen — no Python in the
hot path, which is the difference between ~1 MB/s/core row-at-a-time UDFs
and full vectorized throughput at 100 TB.

Every builder is vocabulary-parameterized (defaults = the reference vocab
from ``vocab.py``) so the same operators run against arbitrary corpora
(the synthetic ``documents`` table uses its own word list in the catalog).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.functions import vocab

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _rlike_any(c: Column, keywords: Sequence[str]) -> Column:
    """Substring-containment against any keyword (reference checks
    ``keyword in title_lower``, dag.py:65,69). Keywords are literal
    strings, so an unanchored alternation rlike is equivalent."""
    import re

    pat = "|".join(re.escape(k) for k in keywords)
    return c.rlike(pat)


# ---------------------------------------------------------------------------
# P1 — salary extraction (reference dags/dag.py:17-39)
# ---------------------------------------------------------------------------

def _salary_match_sub(title: ColumnOrName, pattern: str) -> Column:
    """The matched substring (regexp_substr) — the expensive full-string
    regex scan happens ONCE here; group extraction then re-runs the
    pattern on the short matched text only (identical groups: the pattern
    is unanchored and its own match re-matches from position 0). NULL when
    no match. Cuts per-row regex cost ~4× on the enrichment hot path."""
    return F.regexp_substr(F.lower(_col(title)), F.lit(pattern))


def salary_matched(title: ColumnOrName, pattern: str = vocab.SALARY_PATTERN) -> Column:
    """True iff the salary regex matches."""
    return _salary_match_sub(title, pattern).isNotNull()


def salary_currency(title: ColumnOrName, pattern: str = vocab.SALARY_PATTERN) -> Column:
    """Currency group, trimmed; empty -> the literal string 'None'
    (reference sentinel, dag.py:32 — deliberately NOT SQL NULL);
    no match -> NULL."""
    sub = _salary_match_sub(title, pattern)
    cur = F.trim(F.regexp_extract(sub, pattern, 1))
    return F.when(sub.isNotNull(), F.coalesce(F.nullif(cur, F.lit("")), F.lit("None")))


def salary_bound(title: ColumnOrName, which: str, pattern: str = vocab.SALARY_PATTERN) -> Column:
    """lower/upper salary: numeric group × 1000 (dag.py:35-36); no match -> NULL."""
    group = {"lower": 2, "upper": 3}[which]
    sub = _salary_match_sub(title, pattern)
    return F.regexp_extract(sub, pattern, group).cast("double") * 1000


# ---------------------------------------------------------------------------
# P2/P3/P4 — ordered first-match ladders (reference dags/dag.py:97-129)
# ---------------------------------------------------------------------------

def first_match(title: ColumnOrName, patterns: Sequence[str]) -> Column:
    """Try each case-insensitive pattern in order; first match wins
    (reference loop at dag.py:115-125). ``coalesce`` over ``regexp_substr``
    encodes the priority order natively — one regex pass per rung, NULL on
    no-match.

    Assumes each pattern is one fully-wrapping capture group (all vocab
    patterns are), so the whole match equals group 1; a pattern with
    content outside its group would need regexp_extract instead."""
    t = _col(title)
    rungs = [F.regexp_substr(t, F.lit(f"(?i){p}")) for p in patterns]
    return rungs[0] if len(rungs) == 1 else F.coalesce(*rungs)


def job_position(title: ColumnOrName, patterns: Sequence[str] = vocab.JOB_POSITION_PATTERNS) -> Column:
    return first_match(title, patterns)


def location(title: ColumnOrName, patterns: Sequence[str] = vocab.LOCATION_PATTERNS) -> Column:
    return first_match(title, patterns)


def field(title: ColumnOrName, pattern: str = vocab.FIELD_PATTERN) -> Column:
    return first_match(title, [pattern])


# ---------------------------------------------------------------------------
# P5 — technology detection (reference dags/dag.py:132-140)
# ---------------------------------------------------------------------------

def tokens(text: ColumnOrName) -> Column:
    """``re.findall(r'\\b\\w+\\b', s.lower())`` equivalent: split on runs of
    non-word chars, drop empties. Reference semantics: ``c++``/``c#`` can
    never appear as tokens (punctuation is a delimiter)."""
    return F.filter(F.split(F.lower(_col(text)), r"\W+"), lambda x: x != "")


def tokens_sql(text_sql: str) -> str:
    """SQL text of ``tokens`` over the SQL expression ``text_sql`` — the
    same split and empty-token filter, for builders that parse one
    string instead of paying py4j round trips per expression node."""
    return rf"filter(split(lower({text_sql}), '\\W+'), x -> x != '')"


def bind1(col: Column, fn) -> Column:
    """Let-binding for Catalyst expressions: evaluate ``col`` ONCE per row
    and pass it to ``fn`` as a lambda variable. HOF lambdas re-evaluate
    ordinary column references per mention (no common-subexpression
    elimination in the interpreted HOF path), so an expression like the
    shingle builder — which mentions its token array in the size guard,
    the sequence bound and every slice — re-tokenizes the text 4-5x per
    row; wrapping the tokens in a one-element array and referencing the
    lambda variable instead makes it evaluate exactly once."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def technologies(title: ColumnOrName, keywords: Sequence[str] = vocab.TECH_KEYWORDS) -> Column:
    """Sorted list of dictionary keywords present in the token set.

    Expressed as *keyword-list filtered by membership in tokens* rather
    than array_intersect so output order is the sorted keyword order —
    deterministic where the reference's Python set order was not
    (SURVEY.md §7.4). NULL/empty title -> empty array (dag.py:84)."""
    t = _col(title)
    # bind1: the token array sits INSIDE the per-keyword filter lambda,
    # so unbound it was re-tokenized once per keyword per row (30x for
    # the reference vocab); let-bound it evaluates once
    present = bind1(
        tokens(t),
        lambda toks: F.array_sort(
            F.filter(
                F.lit([*keywords]).cast("array<string>"),
                lambda k: F.array_contains(toks, k),
            )
        ),
    )
    return F.when(t.isNull() | (t == ""), F.array().cast("array<string>")).otherwise(present)


# ---------------------------------------------------------------------------
# F2 — job-post keyword classifier (reference dags/dag.py:41-69)
# ---------------------------------------------------------------------------

def is_job_post(
    title: ColumnOrName,
    positive: Sequence[str] = vocab.POSITIVE_JOB_KEYWORDS,
    negative: Sequence[str] = vocab.NEGATIVE_JOB_KEYWORDS,
) -> Column:
    """Negative keywords short-circuit first (dag.py:64-66), then any
    positive keyword ⇒ True. NULL/empty title ⇒ False (dag.py:50-51)."""
    t = _col(title)
    lt = F.lower(t)
    verdict = ~_rlike_any(lt, negative) & _rlike_any(lt, positive)
    return F.when(t.isNull() | (t == ""), F.lit(False)).otherwise(verdict)


# ---------------------------------------------------------------------------
# P6/P7 — timestamp conversions (reference dags/dag.py:221-224, 358-360)
# ---------------------------------------------------------------------------

def ts_from_millis(ms: ColumnOrName) -> Column:
    """unix-ms -> TimestampType (UTC session tz). dag.py:221-224."""
    return F.timestamp_millis(_col(ms).cast("long"))


def ts_to_iso(ts: ColumnOrName) -> Column:
    """TimestampType -> ISO-8601 string; only needed at JSON boundaries
    (the reference stringifies for XCom, dag.py:358-360)."""
    return F.date_format(_col(ts), "yyyy-MM-dd'T'HH:mm:ssXXX")


# ---------------------------------------------------------------------------
# P8 — comments-count parse (reference dags/dag.py:230-237)
# ---------------------------------------------------------------------------

def parse_leading_int(text: ColumnOrName) -> Column:
    """First whitespace token if all digits, else 0; missing/NULL -> 0.
    Mirrors ``int(s.split()[0]) if .isdigit() else 0``."""
    first = F.regexp_extract(F.trim(_col(text)), r"^(\S+)", 1)
    return F.coalesce(
        F.when(first.rlike(r"^\d+$"), first.cast("int")),
        F.lit(0),
    )
