"""Schema-driven NL->SQL grammar — the beyond-reference extension of
A5-A11 (reference sql_generator.py:42-78 stops at which-X / city /
last-month over one hard-coded schema).

Same design rules as the base grammar (nlsql/generator.py): pure
deterministic regex + profiled-schema lookup, no network, backtick
quoting, injectable clock, output always a single SELECT that passes
nlsql.validator.  The added patterns are the ones the reference's own
canonical questions imply but its grammar can't parse:

* ``count``/``how many`` ............ COUNT(*)
* ``how many distinct|different|unique <col>``
                                     COUNT(DISTINCT col)
* ``average|avg|mean|total|sum|min|max <numcol>``
                                     aggregate over a numeric column
* ``by|per <col>`` .................. GROUP BY
* ``top N`` ......................... ORDER BY <metric> DESC LIMIT N
                                     (count or the parsed aggregate;
                                     group key tiebreaks the ordering)
* ``<col> is|equals <value>`` ....... equality filter (value taken
                                     verbatim from the question)
* ``with more than|at least N`` ..... HAVING on the grouped count
                                     (round 8)
* ``sorted|ordered by <col> [descending|ascending]``
                                     explicit ORDER BY (round 8; a
                                     trailing unique-key tiebreak is
                                     appended when grouping so LIMIT
                                     stays deterministic)
* ``<numcol> over|above|greater than <n>`` / ``under|below|less than``
                                     numeric comparison filter
* ``<strcol> containing|contains|like <word>``
                                     substring filter (LIKE '%word%',
                                     string-typed columns only —
                                     round 8 late)
* ``<numcol> between <n> and <m>`` .. numeric range filter (disjoint
                                     from the date form below, which
                                     requires ISO dates; a lookahead
                                     keeps '1995' inside '1995-01-01'
                                     from matching — round 8 late)
* ``between YYYY-MM-DD and YYYY-MM-DD`` / ``since YYYY-MM-DD``
                                     explicit date range on the first
                                     date-typed column
* ``for each <col>`` ................ GROUP BY (third phrasing,
                                     round 9)
* ``in YYYY`` ....................... calendar-year range on the
                                     first date column (round 9;
                                     yields to explicit bounds)
* ``last month`` .................... inherited range rule (A9)
* ``... <VALUE> ...`` ............... value-equality from profiled
                                     low-cardinality value sets
                                     (round 12 — the A8 city-list rule
                                     generalized to the data's own
                                     categories; binds on bridge
                                     tables of a multi-hop plan too)
* ``<N> most recent|latest|newest`` / ``<N> oldest|earliest``
                                     recency top-N (round 13): ORDER
                                     BY the first date-typed column
                                     DESC/ASC with a unique *key/*id
                                     tiebreak, LIMIT N; with a ``per
                                     <group>`` phrase it becomes a
                                     PARTITIONED row_number per-group
                                     recency instead; yields to an
                                     explicit "sorted by" (digit-
                                     adjacent keyword keeps it
                                     disjoint from "top N")
* ``top N <entity> per <group> [by <metric>]``
                                     per-group top-N (round 13):
                                     rank entities INSIDE each group
                                     via a PARTITIONED row_number
                                     window, entity as tiebreaker;
                                     falls back to whole-group top-N
                                     when either word doesn't bind

Column words fold trailing-'s' plurals exactly like the base grammar's
which-X rule, so "orders per priority" resolves against an ``order``
or ``orders`` column either way.
"""

from __future__ import annotations

import datetime as dt
import re

from csv_query_engine_spark.nlsql.generator import (
    get_last_month_range,
    quote_identifier,
)

_AGG_WORDS = {
    "average": "AVG",
    "avg": "AVG",
    "mean": "AVG",
    "total": "SUM",
    "sum": "SUM",
    "min": "MIN",
    "minimum": "MIN",
    "max": "MAX",
    "maximum": "MAX",
}

# "numeric" is the profiler's own label (profiler.py ColumnInfo.type)
# — missing it made every comparison filter over PROFILED columns
# silently drop (caught round 8 late: "o_totalprice over 1000" parsed
# to no WHERE at all; the old execute test was vacuous because every
# sf0.001 order exceeds 1000)
_NUM_TYPES = {
    "int", "bigint", "double", "float", "decimal", "long", "integer",
    "number", "numeric",
}

# Grammar keywords never value-match (round 13): a lowercase
# low-cardinality value spelled like a grammar word ("top", "or",
# "count") would otherwise bind a spurious equality filter whenever the
# question uses the word grammatically.  Matching is on tok.lower() —
# the conservative side of the disjointness invariant (an UPPER-case
# data value like 'TOP' also stays unbound, documented here).
_GRAMMAR_STOPWORDS = frozenset(
    set(_AGG_WORDS)
    | {
        "count", "how", "many", "distinct", "different", "unique",
        "top", "with", "more", "than", "at", "least", "over", "sorted",
        "ordered", "order", "by", "descending", "desc", "ascending",
        "asc", "is", "equals", "above", "greater", "under", "below",
        "less", "fewer", "containing", "contains", "like", "between",
        "and", "or", "since", "in", "last", "month", "for", "each",
        "per", "of", "show", "which", "the",
        "most", "recent", "latest", "newest", "oldest", "earliest",
    }
)


def _word_folds(word: str) -> list[str]:
    folds = [word, word.rstrip("s"), word + "s"]
    if word.endswith("ies"):
        folds.append(word[:-3] + "y")  # priorities -> priority
    return folds


def _make_resolver(names: dict[str, str]):
    """word -> canonical column name over ``names`` (lower -> original):
    exact + plural folds first, then the prefix-stripped fold
    (TPC-H-style ``o_totalprice`` answers to ``totalprice``) — the
    suffix fold only fires when it is UNIQUE within the schema, so an
    ambiguous bare word (e.g. ``nationkey`` over a customer+nation
    join) resolves to nothing rather than silently picking a side."""

    def resolve(word: str) -> str | None:
        folds = _word_folds(word)
        for w in folds:
            if w in names:
                return names[w]
        for w in folds:
            hits = {
                orig
                for low, orig in names.items()
                if "_" in low and low.split("_", 1)[1] == w
            }
            if len(hits) == 1:
                return next(iter(hits))
        return None

    return resolve


def generate_sql_extended(
    question: str,
    columns: list[dict] | list,
    table: str = "df",
    now: dt.date | None = None,
    from_clause: str | None = None,
    metrics: dict[str, str] | None = None,
    force_group_col: str | None = None,
    column_values: dict[str, list] | None = None,
    force_entity_col: str | None = None,
) -> str:
    """NL -> one Spark-SQL SELECT using the extended schema-driven
    grammar. ``columns`` is profiler output (name/type/semantic_type).
    ``from_clause`` (multi-table path) replaces the FROM operand with a
    pre-built join expression; column references stay unqualified, so
    the caller must guarantee combined column names are unique.

    ``metrics`` (round 10) maps DERIVED-metric words to SQL
    expressions (``{"revenue": "l_extendedprice * (1 - l_discount)"}``)
    — "total revenue" / "top 5 ... by revenue" then aggregate the
    expression with the metric word as the alias.  Columns take
    precedence over metrics on a name clash.  ``force_group_col``
    (multi-table path) pins the grouping key the table-mention
    inference chose, bypassing the word→column matcher.

    ``column_values`` (round 12 — the A8 generalization: the reference
    binds city equality from a HARD-CODED keyword list,
    sql_generator.py:56-63; here the list is the data's own
    low-cardinality value sets, profiler.low_cardinality_values) maps
    column → known values: any ORIGINAL-case question token that
    matches a known value of exactly one column adds an equality
    filter ("revenue per nation for segment BUILDING" →
    ``c_mktsegment = 'BUILDING'``).  Tokens that resolve as column
    words, metric names, or grammar numbers never value-match (the
    grammar-disjointness invariant); a token matching values of TWO
    columns raises rather than mis-binding."""

    def _get(c, k):
        return c[k] if isinstance(c, dict) else getattr(c, k)

    q = question.lower()
    names = {_get(c, "name").lower(): _get(c, "name") for c in columns}
    types = {_get(c, "name").lower(): str(_get(c, "type")).lower() for c in columns}
    resolve = _make_resolver(names)
    metrics = metrics or {}

    # aggregate over a numeric column (or a derived metric — columns
    # win the name clash because resolve() is consulted first)
    agg_fn = agg_col = agg_metric = None
    for m in re.finditer(r"\b(average|avg|mean|total|sum|minimum|min|maximum|max)\b(?: of)? (\w+)", q):
        col = resolve(m.group(2))
        if col is not None and any(t in types[col.lower()] for t in _NUM_TYPES):
            agg_fn, agg_col = _AGG_WORDS[m.group(1)], col
            break
        if col is None and m.group(2) in metrics:
            agg_fn, agg_metric = _AGG_WORDS[m.group(1)], m.group(2)
            break
    if agg_fn is None and metrics:
        # a bare metric next to a grouping phrase implies the additive
        # default SUM over the metric expression: "top 5 nations by
        # revenue" (metric after by/per) and "revenue per nation"
        # (metric BEFORE the grouping phrase — round 12)
        alts = "|".join(map(re.escape, sorted(metrics)))
        mm = re.search(rf"\b(?:by|per) ({alts})\b", q) or re.search(
            rf"\b({alts}) (?:by|per|for each)\b", q
        )
        if mm and resolve(mm.group(1)) is None:
            agg_fn, agg_metric = "SUM", mm.group(1)

    # grouping key ("sorted/ordered by X" is ordering, not grouping —
    # the lookbehinds keep the two rules disjoint; "for each X" is the
    # third grouping phrasing, round 9)
    group_col = force_group_col
    if group_col is None:
        for m in re.finditer(
            r"(?:(?<!sorted )(?<!ordered )(?<!order )\b(?:by|per)\b|\bfor each\b) (\w+)", q
        ):
            col = resolve(m.group(1))
            if col is not None and col != agg_col:
                group_col = col
                break

    wants_count = bool(re.search(r"\bcount\b|\bhow many\b", q))

    # distinct count: "how many distinct/different/unique X"
    distinct_col = None
    dm = re.search(r"\b(?:distinct|different|unique)\b (\w+)", q)
    if dm:
        distinct_col = resolve(dm.group(1))

    # top-N
    topm = re.search(r"\btop (\d+)\b", q)

    # recency (round 13): "<N> most recent|latest|newest <rows>" (DESC)
    # / "<N> oldest|earliest" (ASC) — ORDER BY the first date-typed
    # column with a unique-key tiebreak, LIMIT N.  Applies only to the
    # ungrouped, un-ordered shape (an explicit "sorted by"/GROUP BY
    # wins); the digit must sit immediately before the keyword so the
    # rule stays disjoint from "top N".
    recm = re.search(r"\b(\d+) (?:most recent|latest|newest|oldest|earliest)\b", q)
    rec_dir = (
        None
        if recm is None
        else ("ASC" if re.search(r"\b\d+ (?:oldest|earliest)\b", q) else "DESC")
    )

    # per-group top-N (round 13): "top 3 <entity> per <group> [by
    # <metric>]" ranks entities WITHIN each group — compiled to a
    # PARTITIONED row_number window (never unpartitioned; the lint
    # contract) with the entity as the deterministic tiebreaker.  Fires
    # only when BOTH words bind to distinct columns (the multi-table
    # wrapper resolves table words to name columns via
    # force_entity_col/force_group_col); otherwise the phrase falls
    # through to the existing whole-group top-N rules unchanged.
    pg_entity = pg_group = None
    pgm = re.search(r"\btop (\d+) (\w+) (?:per|for each) (\w+)\b", q)
    if pgm is not None:
        pg_entity = force_entity_col or resolve(pgm.group(2))
        pg_group = resolve(pgm.group(3)) or force_group_col
        if pg_entity is None or pg_group is None or pg_entity == pg_group:
            pg_entity = pg_group = None

    # HAVING on the grouped count: "with more than / at least N ..."
    having = None
    hm = re.search(r"\bwith (more than|at least|over) (\d+)\b", q)
    if hm:
        op = ">=" if hm.group(1) == "at least" else ">"
        having = f"COUNT(*) {op} {int(hm.group(2))}"

    # explicit ordering: "sorted/ordered by X [descending/ascending]"
    order_col = None
    order_dir = "ASC"
    om = re.search(r"\b(?:sorted|ordered|order) by (\w+)\b( descending| desc| ascending| asc)?", q)
    if om:
        oc = resolve(om.group(1))
        if oc is not None:
            order_col = oc
            if om.group(2) and om.group(2).strip() in ("descending", "desc"):
                order_dir = "DESC"

    # equality filters: column word followed by is/equals/= value; the
    # value is taken VERBATIM from the original question's token
    where: list[str] = []
    for m in re.finditer(r"(\w+) (?:is|equals|=) '?([\w.-]+)'?", question, re.IGNORECASE):
        col = resolve(m.group(1).lower())
        if col is not None and col not in (agg_col,):
            where.append(f"{quote_identifier(col)} = '{m.group(2)}'")

    # value-equality filters (round 12): ORIGINAL-case tokens matched
    # verbatim against profiled low-cardinality value sets — the A8
    # city-list rule generalized to the data's own categories.  Tokens
    # already consumed by the grammar (column words, metric names,
    # digits, explicit is/equals values) are excluded first so the two
    # equality rules stay disjoint.
    if column_values:
        # Only values the explicit rule actually CONSUMED are excluded:
        # an 'X is Y' phrase whose X resolves to no column emitted no
        # filter, so Y must stay eligible for value matching or the
        # filter silently vanishes (bind-or-fail; round-13 ADVICE fix).
        eq_values = {
            m.group(2)
            for m in re.finditer(
                r"(\w+) (?:is|equals|=) '?([\w.-]+)'?", question, re.IGNORECASE
            )
            if resolve(m.group(1).lower()) is not None
        }
        seen_tokens: set[str] = set()
        by_col: dict[str, list[str]] = {}
        for tok in re.findall(r"[\w.-]+", question):
            if (
                tok in seen_tokens
                or tok in eq_values
                or tok.isdigit()
                or tok.lower() in _GRAMMAR_STOPWORDS
                or resolve(tok.lower()) is not None
                or tok.lower() in metrics
            ):
                continue
            seen_tokens.add(tok)
            hits = sorted(c for c, vals in column_values.items() if tok in vals)
            if len(hits) > 1:
                raise ValueError(
                    f"value {tok!r} matches more than one column "
                    f"({', '.join(hits)}): cannot bind the filter safely"
                )
            if hits:
                by_col.setdefault(hits[0], []).append(tok)
        # several values of ONE column ("segment BUILDING or MACHINERY")
        # mean membership, not an always-empty AND of equalities
        for col, toks in by_col.items():
            if len(toks) == 1:
                where.append(f"{quote_identifier(col)} = '{toks[0]}'")
            else:
                vals = ", ".join(f"'{t}'" for t in toks)
                where.append(f"{quote_identifier(col)} IN ({vals})")

    # numeric comparison filters: "X over/above/greater than N"
    for m in re.finditer(
        r"(\w+) (?:over|above|greater than|more than) (\d+(?:\.\d+)?)", q
    ):
        col = resolve(m.group(1))
        if col is not None and any(t in types[col.lower()] for t in _NUM_TYPES):
            where.append(f"{quote_identifier(col)} > {m.group(2)}")
    for m in re.finditer(
        r"(\w+) (?:under|below|less than|fewer than) (\d+(?:\.\d+)?)", q
    ):
        col = resolve(m.group(1))
        if col is not None and any(t in types[col.lower()] for t in _NUM_TYPES):
            where.append(f"{quote_identifier(col)} < {m.group(2)}")

    # substring filters: "X containing/contains/like word" (string
    # cols; value VERBATIM from the original question). '_' is a LIKE
    # single-char wildcard and IS inside \w, so it must be escaped
    # ('%' can't appear — not in the charset) or "page_view" would
    # also match "pagesview".
    for m in re.finditer(
        r"(\w+) (?:containing|contains|like) '?([\w.-]+)'?", question, re.IGNORECASE
    ):
        col = resolve(m.group(1).lower())
        if col is not None and (
            "string" in types[col.lower()] or "varchar" in types[col.lower()]
        ):
            needle = m.group(2).replace("_", "\\_")
            where.append(f"{quote_identifier(col)} LIKE '%{needle}%'")

    # numeric range: "X between N and M" — the (?!-) lookaheads keep the
    # year prefix of an ISO date ('1995' in '1995-01-01') from matching,
    # so this stays disjoint from the date-bounds rule below
    for m in re.finditer(
        r"(\w+) between (\d+(?:\.\d+)?)(?!-) and (\d+(?:\.\d+)?)(?!-)", q
    ):
        col = resolve(m.group(1))
        if col is not None and any(t in types[col.lower()] for t in _NUM_TYPES):
            where.append(
                f"{quote_identifier(col)} >= {m.group(2)} AND "
                f"{quote_identifier(col)} <= {m.group(3)}"
            )

    # inherited last-month range (A9)
    date_cols = [
        _get(c, "name") for c in columns if _get(c, "semantic_type") == "date"
    ]
    if "last month" in q and date_cols:
        start, end = get_last_month_range(now)
        d = quote_identifier(date_cols[0])
        where.append(f"{d} >= '{start}' AND {d} <= '{end}'")
    # explicit date bounds on the first date-typed column
    if date_cols:
        d = quote_identifier(date_cols[0])
        bm = re.search(r"between (\d{4}-\d{2}-\d{2}) and (\d{4}-\d{2}-\d{2})", q)
        if bm:
            where.append(f"{d} >= '{bm.group(1)}' AND {d} <= '{bm.group(2)}'")
        sm = re.search(r"\bsince (\d{4}-\d{2}-\d{2})", q)
        if sm:
            where.append(f"{d} >= '{sm.group(1)}'")
        # "in <year>" -> calendar-year range on the first date column
        # (round 9); the lookahead keeps the year prefix of an ISO date
        # out, and the rule yields to any explicit date bound above
        ym = re.search(r"\bin (\d{4})\b(?!-)", q)
        if ym and not (bm or sm) and "last month" not in q:
            y = int(ym.group(1))
            where.append(f"{d} >= '{y}-01-01' AND {d} < '{y + 1}-01-01'")

    # assemble — per-group top-N first (it owns the whole statement)
    tbl_expr = from_clause or (table if table.isidentifier() else quote_identifier(table))
    if pg_entity is not None:
        if agg_metric is not None:
            metric_sql = f"{agg_fn}({metrics[agg_metric]})"
            alias = quote_identifier(agg_metric)
        elif agg_fn is not None:
            metric_sql = f"{agg_fn}({quote_identifier(agg_col)})"
            alias = quote_identifier(f"{agg_fn.lower()}_{agg_col}")
        elif distinct_col is not None:
            metric_sql = f"COUNT(DISTINCT {quote_identifier(distinct_col)})"
            alias = quote_identifier(f"distinct_{distinct_col}")
        else:
            metric_sql = "COUNT(*)"
            alias = "`count`"
        g, e = quote_identifier(pg_group), quote_identifier(pg_entity)
        inner = f"SELECT {g}, {e}, {metric_sql} AS {alias}, ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY {metric_sql} DESC, {e}) AS `_rnk` FROM {tbl_expr}"
        if where:
            inner += " WHERE " + " AND ".join(where)
        inner += f" GROUP BY {g}, {e}"
        if having is not None:
            inner += f" HAVING {having}"
        return (
            f"SELECT {g}, {e}, {alias} FROM ({inner}) "
            f"WHERE `_rnk` <= {int(pgm.group(1))} ORDER BY {g}, `_rnk`"
        )

    # per-group recency (round 13, late): "<N> most recent <rows> per
    # <group>" — the per-group top-N machinery applied to recency: a
    # PARTITIONED row_number over the date column with the unique-key
    # tiebreak; owns the whole statement (explicit "sorted by" and the
    # metric per-group form still win via their guards)
    if (
        rec_dir is not None
        and group_col is not None
        and date_cols
        and order_col is None
        and pg_entity is None
    ):
        g = quote_identifier(group_col)
        d = quote_identifier(date_cols[0])
        key = next(
            (names[c] for c in names if c.endswith("key") or c.endswith("id")), None
        )
        tie = f", {quote_identifier(key)} {rec_dir}" if key else ""
        cols = ", ".join(quote_identifier(n) for n in names.values())
        inner = (
            f"SELECT {cols}, ROW_NUMBER() OVER (PARTITION BY {g} "
            f"ORDER BY {d} {rec_dir}{tie}) AS `_rnk` FROM {tbl_expr}"
        )
        if where:
            inner += " WHERE " + " AND ".join(where)
        return (
            f"SELECT {cols} FROM ({inner}) WHERE `_rnk` <= {int(recm.group(1))} "
            f"ORDER BY {g}, `_rnk`"
        )

    select_parts: list[str] = []
    order_metric = None
    if group_col is not None:
        select_parts.append(quote_identifier(group_col))
    if agg_metric is not None:
        select_parts.append(
            f"{agg_fn}({metrics[agg_metric]}) AS {quote_identifier(agg_metric)}"
        )
        order_metric = quote_identifier(agg_metric)
    elif agg_fn is not None:
        alias = f"{agg_fn.lower()}_{agg_col}"
        select_parts.append(f"{agg_fn}({quote_identifier(agg_col)}) AS {quote_identifier(alias)}")
        order_metric = quote_identifier(alias)
    if distinct_col is not None:
        alias = quote_identifier(f"distinct_{distinct_col}")
        select_parts.append(
            f"COUNT(DISTINCT {quote_identifier(distinct_col)}) AS {alias}"
        )
        if order_metric is None:
            order_metric = alias
    elif wants_count or (group_col is not None and agg_fn is None):
        select_parts.append("COUNT(*) AS `count`")
        if order_metric is None:
            order_metric = "`count`"
    if not select_parts:
        select_parts = ["*"]

    sql = f"SELECT {', '.join(select_parts)} FROM {tbl_expr}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    # grouped whenever the select list carries ANY metric next to the
    # group key — the bare "<noun> for each X" / "orders per X" case
    # adds COUNT(*) above and MUST group or the SQL is invalid
    # (MISSING_GROUP_BY; round-9 review finding)
    grouped = group_col is not None and len(select_parts) > 1
    if grouped:
        sql += f" GROUP BY {quote_identifier(group_col)}"
        if having is not None:
            sql += f" HAVING {having}"
        if order_col is not None and order_col != group_col:
            # a non-grouped column can't be ordered under GROUP BY —
            # fall back to the metric ordering path
            order_col = None
    if order_col is not None:
        sql += f" ORDER BY {quote_identifier(order_col)} {order_dir}"
        if topm:
            sql += f" LIMIT {int(topm.group(1))}"
    elif rec_dir is not None and not grouped and date_cols:
        # unique-key tiebreak (the LIMIT-determinism invariant): the
        # first *key/*id column of the (combined) schema
        key = next(
            (names[c] for c in names if c.endswith("key") or c.endswith("id")), None
        )
        tie = f", {quote_identifier(key)} {rec_dir}" if key else ""
        sql += (
            f" ORDER BY {quote_identifier(date_cols[0])} {rec_dir}{tie}"
            f" LIMIT {int(recm.group(1))}"
        )
    elif topm and order_metric is not None:
        tie = f", {quote_identifier(group_col)}" if group_col is not None else ""
        sql += f" ORDER BY {order_metric} DESC{tie} LIMIT {int(topm.group(1))}"
    return sql


# ------------------------------------------------------- multi-table

def _key_suffix(name: str) -> str | None:
    """Join-key suffix of a TPC-H-style column (``o_custkey`` ->
    ``custkey``); None for non-key columns."""
    low = name.lower()
    base = low.split("_", 1)[1] if "_" in low else low
    return base if base.endswith("key") else None


def _join_on(t1: str, cols1: list[str], t2: str, cols2: list[str]) -> str | None:
    """Equality join condition between two profiled tables: the first
    (sorted — deterministic) pair of columns sharing a ``…key`` suffix.
    This is the star-schema foreign-key convention the profiler's
    schema carries (custkey, nationkey, orderkey, …)."""
    by_suffix = {}
    for c in sorted(cols1):
        s = _key_suffix(c)
        if s is not None and s not in by_suffix:
            by_suffix[s] = c
    for c in sorted(cols2):
        s = _key_suffix(c)
        if s is not None and s in by_suffix:
            return (
                f"{t1}.{quote_identifier(by_suffix[s])}"
                f" = {t2}.{quote_identifier(c)}"
            )
    return None


def generate_sql_multi_table(
    question: str,
    tables: dict[str, list],
    now: dt.date | None = None,
    metrics: dict[str, tuple[str, list[str]]] | None = None,
    column_values: dict[str, dict[str, list]] | None = None,
) -> str:
    """NL -> one SELECT over profiled tables joined along an inferred
    star-schema path — the schema-driven join inference the
    single-table grammar can't express ("how many customers per
    n_name": ``customers`` names the customer table, ``n_name`` lives
    on nation, the custkey/nationkey suffixes carry the join).

    Inference, fully deterministic:

    1. every question word resolves against every table's columns
       (exact + plural + unique-suffix folds); words matching a TABLE
       name pin that table into the plan; words matching a ``metrics``
       name are owned by every table carrying all the expression's
       input columns;
    2. the smallest table set covering all resolved words wins —
       single table → the plain extended grammar; two tables → the
       SHORTEST ``…key``-suffix join path between them (direct, one
       bridge, or two bridges — lineitem↔nation walks
       orders→customer; BFS over sorted neighbors, so ties break
       lexicographically and the chosen path is reproducible);
    3. the union of the two END tables' profiles feeds the SAME
       extended grammar with the pre-built FROM-join clause (bridge
       columns join, they are not referenceable); combined column
       names across the WHOLE path must be unique (TPC-H prefixes
       guarantee it) or the question is rejected rather than
       mis-bound.

    Round-10 aggregate+top-N composition: ``metrics`` maps derived
    measures to (expression, input columns) — e.g. revenue →
    l_extendedprice·(1−l_discount) — and a table-name mention in "top
    5 nations by revenue" / "revenue per nation" GROUPS by that
    table's name-like column (first ``…name`` column, else its first
    string column), producing the reference flagship's
    join+GROUP+ORDER+LIMIT shape from one sentence.

    ``column_values`` (round 12) maps table → column → known values
    (profiler.low_cardinality_values per table): value tokens bind
    equality filters on ANY table of the chosen join PATH — bridge
    tables included, safely, because path-wide column-name uniqueness
    is already enforced ("revenue per nation for segment BUILDING last
    month" filters the customer bridge's c_mktsegment).  A value token
    whose owning table is NOT on the plan raises — a filter must bind
    or fail, never silently vanish (the round-8 type-label lesson).

    Raises ``ValueError`` when referenced columns span tables with no
    inferable join path — never a silently wrong query.  Output always
    passes nlsql.validator (single SELECT)."""
    import itertools

    def _get(c, k):
        return c[k] if isinstance(c, dict) else getattr(c, k)

    metrics = metrics or {}
    colnames = {t: [_get(c, "name") for c in cols] for t, cols in tables.items()}
    coltypes = {
        t: {_get(c, "name").lower(): str(_get(c, "type")).lower() for c in cols}
        for t, cols in tables.items()
    }
    resolvers = {
        t: _make_resolver({n.lower(): n for n in ns}) for t, ns in colnames.items()
    }
    metric_owners = {
        mn: {
            t
            for t, ns in colnames.items()
            if {c.lower() for c in needed} <= {n.lower() for n in ns}
        }
        for mn, (_, needed) in metrics.items()
    }
    q = question.lower()
    words = re.findall(r"\w+", q)

    def _table_for(word: str) -> str | None:
        for t in tables:
            if word in (t.lower(), t.lower() + "s", t.lower().rstrip("s")):
                return t
        return None

    # word -> tables that can resolve it; table-name mentions pin tables
    owners: dict[str, set[str]] = {}
    pinned: set[str] = set()
    for w in set(words):
        t = _table_for(w)
        if t is not None:
            pinned.add(t)
        ts = {t for t, r in resolvers.items() if r(w) is not None}
        if not ts and w in metric_owners:
            ts = metric_owners[w]
        if ts:
            owners[w] = ts

    def _name_col(t: str) -> str | None:
        named = [c for c in sorted(colnames[t]) if c.lower().endswith("name")]
        strs = [
            c
            for c in colnames[t]
            if "string" in coltypes[t][c.lower()]
            or "varchar" in coltypes[t][c.lower()]
        ]
        return (named or strs or [None])[0]

    def _word_col(w: str) -> str | None:
        """Column for a grouping/entity word: a column word resolves
        directly (unique across the plan's resolvers); a table word
        falls back to that table's name-like column."""
        hits = {r(w) for r in resolvers.values() if r(w) is not None}
        if len(hits) == 1:
            return next(iter(hits))
        if not hits:
            t = _table_for(w)
            if t is not None:
                return _name_col(t)
        return None

    # per-group top-N (round 13): "top 3 <entity> per <group>" — both
    # words bind (column word, or table word -> its name column) and
    # the pinned-tables mechanics already force the covering join plan
    force_entity = force_group = None
    pgm = re.search(r"\btop \d+ (\w+) (?:per|for each) (\w+)\b", q)
    if pgm is not None:
        ec, gc = _word_col(pgm.group(1)), _word_col(pgm.group(2))
        if ec is not None and gc is not None and ec != gc:
            force_entity, force_group = ec, gc

    # table-mention grouping: "top 5 nations by revenue" / "revenue per
    # nation" — a table word in a grouping position that is NOT also a
    # column word groups by that table's name-like column
    if force_entity is None:
        for w in set(words):
            t = _table_for(w)
            if t is None or any(r(w) is not None for r in resolvers.values()):
                continue
            if re.search(rf"\btop \d+ {re.escape(w)}\b", q) or re.search(
                rf"\b(?:by|per|for each) {re.escape(w)}\b", q
            ):
                if _name_col(t) is not None:
                    force_group = _name_col(t)
                    break

    flat_metrics = {mn: expr for mn, (expr, _) in metrics.items()}
    column_values = column_values or {}

    def _plan_values(plan_tables: tuple[str, ...]) -> dict[str, list] | None:
        """Merged value sets for the chosen plan's tables (bridges
        included — path-wide name uniqueness is enforced before use).
        A value token owned only by OFF-plan tables raises: the filter
        must bind or fail, never silently vanish."""
        if not column_values:
            return None
        merged: dict[str, list] = {}
        for t in plan_tables:
            merged.update(column_values.get(t, {}))
        # mirror of the single-table rule: only CONSUMED explicit
        # values are excluded (X must resolve on some plan table)
        eq_values = {
            m.group(2)
            for m in re.finditer(
                r"(\w+) (?:is|equals|=) '?([\w.-]+)'?", question, re.IGNORECASE
            )
            if any(r(m.group(1).lower()) is not None for r in resolvers.values())
        }
        for tok in set(re.findall(r"[\w.-]+", question)):
            if (
                tok in eq_values
                or tok.isdigit()
                or tok.lower() in _GRAMMAR_STOPWORDS
                or tok.lower() in flat_metrics
                or any(r(tok.lower()) is not None for r in resolvers.values())
                or any(tok in vals for vals in merged.values())
            ):
                continue
            off = sorted(
                t
                for t, cvs in column_values.items()
                if t not in plan_tables and any(tok in vals for vals in cvs.values())
            )
            if off:
                raise ValueError(
                    f"value {tok!r} belongs to {', '.join(off)}, which the "
                    "inferred join plan does not reach: cannot bind the filter"
                )
        return merged or None

    # smallest covering set: try singles, then pairs (deterministic order)
    def covers(ts: tuple[str, ...]) -> bool:
        return pinned <= set(ts) and all(o & set(ts) for o in owners.values())

    def _kwargs(tset: tuple[str, ...]) -> dict:
        fg = (
            force_group
            if force_group is not None
            and any(force_group in colnames[t] for t in tset)
            else None
        )
        fe = (
            force_entity
            if force_entity is not None
            and any(force_entity in colnames[t] for t in tset)
            else None
        )
        return {
            "now": now,
            "metrics": flat_metrics,
            "force_group_col": fg,
            "force_entity_col": fe,
        }

    for t in sorted(tables):
        if covers((t,)):
            return generate_sql_extended(
                question,
                tables[t],
                table=t,
                column_values=_plan_values((t,)),
                **_kwargs((t,)),
            )

    # join graph over the profiled tables (sorted — deterministic)
    def _edge(a: str, b: str) -> str | None:
        return _join_on(a, colnames[a], b, colnames[b])

    def _shortest_path(t1: str, t2: str) -> list[str] | None:
        """BFS, ≤ 2 intermediates, sorted neighbor order (first
        shortest path found is the lexicographically least)."""
        frontier = [[t1]]
        seen = {t1}
        for _depth in range(3):
            nxt = []
            for path in frontier:
                for u in sorted(tables):
                    if u in seen and u != t2:
                        continue
                    if _edge(path[-1], u) is None:
                        continue
                    if u == t2:
                        return path + [u]
                    if u not in seen:
                        seen.add(u)
                        nxt.append(path + [u])
            frontier = nxt
        return None

    def _joined_sql(path: list[str], owner_tables: tuple[str, ...]) -> str:
        """The extended grammar over the owner tables' columns, FROM the
        join along ``path``; column names must be unique path-wide."""
        path_names = [n.lower() for t in path for n in colnames[t]]
        if len(set(path_names)) != len(path_names):
            raise ValueError(
                f"ambiguous columns across {' -> '.join(path)}: "
                "cannot bind the question safely"
            )
        fc = path[0]
        for prev, nxt in zip(path, path[1:]):
            fc += f" JOIN {nxt} ON {_edge(prev, nxt)}"
        return generate_sql_extended(
            question,
            [c for t in owner_tables for c in tables[t]],
            table=path[0],
            from_clause=fc,
            column_values=_plan_values(tuple(path)),
            **_kwargs(owner_tables),
        )

    for t1, t2 in itertools.combinations(sorted(tables), 2):
        if not covers((t1, t2)):
            continue
        path = _shortest_path(t1, t2)
        if path is None:
            raise ValueError(
                f"columns span {t1} and {t2} but no key-suffix join path exists"
            )
        return _joined_sql(path, (t1, t2))
    # three owner tables (round 13 — "top N <entity-table> per
    # <group-table> by <metric>" spans entity + group + fact): stitch
    # two shortest paths through a shared middle and take the SHORTEST
    # total path over all permutations — the fact table's own foreign
    # key beats a longer bridge route (supplier via l_suppkey, never
    # via customer->nation->supplier), ties broken lexicographically.
    best = None
    for trio in itertools.combinations(sorted(tables), 3):
        if not covers(trio):
            continue
        for perm in itertools.permutations(trio):
            p1 = _shortest_path(perm[0], perm[1])
            p2 = _shortest_path(perm[1], perm[2]) if p1 else None
            if p1 is None or p2 is None:
                continue
            path = p1 + p2[1:]
            if len(set(path)) != len(path):
                continue
            cand = (len(path), path, trio)
            if best is None or cand < best:
                best = cand
    if best is not None:
        _, path, trio = best
        return _joined_sql(path, trio)
    raise ValueError(
        "question references columns from more than three joinable tables"
    )
