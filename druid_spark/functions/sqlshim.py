"""Druid SQL → Spark SQL text rewriter (aggregate layer).

Scalar Druid functions are registered as real SQL UDFs
(functions/register.py) and need no rewriting. This module handles the
parts SQL UDFs can't express:
- aggregates bound to __time (EARLIEST/LATEST → MIN_BY/MAX_BY)
- approximate-aggregate family renames (datasketches SQL names →
  Spark approx equivalents)
- builtin-colliding names with different semantics.

Deliberately a light regex mapping, not a SQL parser — Catalyst does
the real work. Reference surface: sql/calcite/planner/DruidOperatorTable.java.
"""

from __future__ import annotations

import contextvars
import re
from dataclasses import dataclass, field
from typing import Mapping


@dataclass(frozen=True)
class SqlSchema:
    """The calling engine's schema as the rewrite sees it: column-name
    hints derived from the catalog, scoped to the tables a statement
    references (every table when it references none, so an unrelated
    table's same-named column cannot drive a rewrite for the
    referenced one). Built and cached per catalog version by
    DruidSparkEngine._sql_schema; never mutated, so concurrent
    rewrites share one instance."""
    # unambiguous non-array column names of the calling engine's tables
    # (the array/MV family auto-wraps string scalars as 1-element MVDs,
    # which needs to know the column isn't already an array — qaUnnest
    # array_length(c_long)); a name that is an array in any scoped
    # table is not listed
    scalar_cols: frozenset[str] = frozenset()
    # column names typed COMPLEX<json> in the calling engine's catalog:
    # JSON-text columns embed as STRUCTURE (not quoted strings) in
    # JSON_OBJECT and friends (qaJsonCols func_json_object goldens);
    # every catalog type hint except MVD and AUTO
    json_cols: frozenset[str] = frozenset()
    # unambiguous array-column name → element type simpleString, for the
    # cross-type array comparison coercion (Druid/Calcite compares
    # ARRAY<LONG> to ARRAY<STRING> via leastRestrictive; Spark raises
    # DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES — qaArray FILLER batteries);
    # names with conflicting element types across tables are dropped
    array_elem: Mapping[str, str] = field(default_factory=dict)
    # unambiguous scalar-column name → type simpleString: the TIME_*
    # family REJECTS numeric arguments like the reference's Calcite
    # validator (a bigint fed to TIME_EXTRACT would silently read as
    # epoch SECONDS here while Druid reads native millis — erroring
    # matches the reference and prevents the silent misread); names
    # with conflicting types across tables are dropped
    scalar_types: Mapping[str, str] = field(default_factory=dict)
    # REAL typed arrays (not MVDs): numeric/bool element types can
    # never be MVDs (MVDs are VARCHAR), plus variant arrays the
    # catalog marked "ARRAY". Scalar string functions and IN over
    # these reject like the reference's Calcite validator; string-
    # element arrays stay ambiguous with MVDs (both store as
    # array<string>) and are deliberately not guarded.
    real_array_cols: frozenset[str] = frozenset()
    # columns the catalog tags MVD (multi-value string dims, stored as
    # array<string>)
    mvd_cols: frozenset[str] = frozenset()
    # variant-element array columns the catalog tags "ARRAY"
    variant_array_cols: frozenset[str] = frozenset()
    # schema-discovered ("auto") scalar columns: variant-capable, so the
    # MV family stringifies them where a DECLARED numeric dim yields NULL
    # (qaUnnest array_sql vs mv_sql array_to_mv goldens)
    auto_scalar_cols: frozenset[str] = frozenset()
    # DECLARED COMPLEX<json> dims reject LIKE (Calcite); a
    # discovery-stored json TEXT column ("JSON_TEXT" hint) stays
    # LIKE-able (qaJsonCols ingest_schmless I14-I17)
    declared_json_cols: frozenset[str] = frozenset()
    # ordered per-table column lists for the self-join star expansion
    # (Calcite's 0-suffix duplicate naming)
    table_columns: Mapping[str, tuple[str, ...]] = field(
        default_factory=dict)
    # per-table column type map {table: {col: "MVD" | spark simpleString}}
    # for the UNION branch alignment (the reference's table-level union
    # maps same-named columns leniently; a pass-through MVD vs scalar
    # conflict coerces to the MVD's published VARCHAR form); MVD tags
    # override the storage type
    table_col_types: Mapping[str, Mapping[str, str]] = field(
        default_factory=dict)


@dataclass(frozen=True)
class _RewriteCtx:
    """Everything one rewrite_druid_sql call reads besides the SQL
    text, exact and tz: the schema plus the statement flags. Held in
    one ContextVar, so concurrent server threads rewriting different
    sessions' SQL never see each other's."""
    schema: SqlSchema = SqlSchema()
    # Session default for sketch nominalEntries. The reference bounds
    # tuple/theta sketch state at its DEFAULT nominal entries even when
    # the query omits the parameter (extensions-core/datasketches/.../
    # ArrayOfDoublesSketchAggregatorFactory.java); None = exact
    # unbounded state, the oracle-checkable mode differential
    # harnesses require.
    default_nominal_entries: int | None = None
    # approximate count distinct estimates through the reference-exact
    # HyperLogLogCollector reproduction (functions/hllc.py)
    hllc_parity: bool = False
    # extendedFilteredSumRewrite: SUM(CASE WHEN c THEN x ELSE 0 END)
    # becomes a filtered SUM (NULL for a no-match group)
    filtered_sum_rewrite: bool = True
    # decoupledUnnestFilterCollapse (see _decoupled_unnest_filter_collapse)
    unnest_filter_collapse: bool = False
    # strictWindowFrames (see _strict_window_frames_check)
    strict_window_frames: bool = False


_CTX: contextvars.ContextVar[_RewriteCtx] = contextvars.ContextVar(
    "druid_spark_rewrite_ctx", default=_RewriteCtx())


def _schema() -> SqlSchema:
    return _CTX.get().schema


def _skip_string(s: str, i: int) -> int:
    """i points at an opening quote; return the index of its closing
    quote ('' / \"\" doubling is the SQL escape). len(s) if unclosed."""
    q = s[i]
    i += 1
    while i < len(s):
        if s[i] == q:
            if i + 1 < len(s) and s[i + 1] == q:
                i += 2
                continue
            return i
        i += 1
    return len(s)


def _mask_strings(sql: str) -> tuple[str, dict[int, str]]:
    """Replace single-quoted string literals with bracket-free \\x00N\\x00
    placeholders so a regex rewrite can't fire inside a literal (a
    JSONPath like '$.array[-1]' must survive the ARRAY[...] constructor
    rewrite). Restore with _unmask_strings.

    Nesting-safe: indices start above any placeholder already in the
    text, and _unmask_strings resolves only indices its own dict
    holds — so a helper masking text the pipeline already masked (the
    mask-once top-level pass, _MaskCtx) numbers around the outer
    placeholders and restores only the literals it masked itself."""
    base = 1 + max((int(m.group(1)) for m in
                    re.finditer("\x00([0-9]+)\x00", sql)), default=-1)
    lits: dict[int, str] = {}
    out: list[str] = []
    i = seg = 0
    while i < len(sql):
        if sql[i] == "'":
            j = _skip_string(sql, i)
            out.append(sql[seg:i])
            idx = base + len(lits)
            out.append(f"\x00{idx}\x00")
            lits[idx] = sql[i:j + 1]
            i = j + 1
            seg = i
        else:
            i += 1
    out.append(sql[seg:])
    return "".join(out), lits


def _unmask_strings(sql: str, lits: dict[int, str]) -> str:
    if not lits:
        return sql
    return re.sub("\x00([0-9]+)\x00",
                  lambda m: lits.get(int(m.group(1)), m.group(0)), sql)


_MASK = contextvars.ContextVar("druid_spark_mask_ctx", default=None)

# a placeholder token, for patterns that must match where a user
# string literal sat before the mask-once pass
_PH = "\x00[0-9]+\x00"


class _MaskCtx:
    """Mask-once literal store for the rewrite pipeline: user string
    literals tokenize to \\x00N\\x00 placeholders ONCE before the
    rewrite passes run, so no pass can fire inside user literal
    content. _rewrite_call resolves placeholders when handing args to
    builders (they read literal content: period strings, formats,
    separators) and re-masks each replacement, so engine-emitted
    literals join the store too."""

    def __init__(self, sql: str):
        self.text, self.lits = _mask_strings(sql)

    def unmask(self, text: str) -> str:
        return _unmask_strings(text, self.lits)

    def val(self, tok: str) -> str | None:
        """Literal text (with quotes) of a placeholder token."""
        m = re.fullmatch("\x00([0-9]+)\x00", tok.strip())
        return self.lits.get(int(m.group(1))) if m else None

    def mask(self, text: str) -> str:
        """Mask any raw literals in `text` into THIS store (indices
        above everything already issued)."""
        if "'" not in text:
            return text
        nxt = 1 + max(self.lits.keys(), default=-1)
        out: list[str] = []
        i = seg = 0
        while i < len(text):
            if text[i] == "'":
                j = _skip_string(text, i)
                out.append(text[seg:i])
                out.append(f"\x00{nxt}\x00")
                self.lits[nxt] = text[i:j + 1]
                nxt += 1
                i = j + 1
                seg = i
            else:
                i += 1
        out.append(text[seg:])
        return "".join(out)


def _mask_local(sql: str) -> tuple[str, dict[int, str] | None]:
    """Helper-boundary masking, consolidated onto the pipeline store.

    Standalone call (no _MaskCtx): behaves like _mask_strings and the
    caller restores with _unmask_local(sql, lits).

    Under the pipeline: the text is already masked; any RAW quotes a
    previous pass emitted are absorbed into the SHARED ctx store (so
    no later regex can fire inside them) and the text stays masked —
    _unmask_local(sql, None) is the identity, and the single
    ctx.unmask at pipeline end restores everything. One store, one
    unmask: no nested local mask/unmask pairs inside pipeline passes."""
    ctx = _MASK.get()
    if ctx is not None:
        return ctx.mask(sql), None
    return _mask_strings(sql)


def _unmask_local(sql: str, lits: dict[int, str] | None) -> str:
    if lits is None:
        return sql
    return _unmask_strings(sql, lits)


def _split_top_and(w: str) -> list[str]:
    """Split a (masked) predicate on paren-depth-0 AND keywords."""
    parts, depth, start, i, n = [], 0, 0, 0, len(w)
    while i < n:
        ch = w[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif (depth == 0 and ch in "Aa" and i + 3 <= n
                and w[i:i + 3].upper() == "AND"
                and (i == 0 or not (w[i - 1].isalnum()
                                    or w[i - 1] in "_."))
                and (i + 3 == n or not (w[i + 3].isalnum()
                                        or w[i + 3] in "_."))):
            parts.append(w[start:i].strip())
            start = i + 3
            i += 3
            continue
        i += 1
    parts.append(w[start:].strip())
    return [p for p in parts if p]


_NOTNULL_CASCADE_FNS = {
    # Calcite nullability cascades from the operands (returnType
    # CascadeNullable / standard CHAR_LENGTH): the call is NOT NULL
    # when every operand is NOT NULL
    "array_to_string", "array_ordinal_of", "array_length",
    "length", "char_length", "character_length", "strlen",
}
_NOTNULL_ARG0_FNS = {
    # ARG0_NULLABLE_ARRAY_RETURN_TYPE_INFERENCE: nullability follows
    # operand 0 only
    "array_slice", "array_concat", "array_append", "array_prepend",
}


def _calcite_notnull_expr(e: str) -> bool:
    """True when Calcite types the (masked) expression as NOT NULL.
    ARRAY_AGG's return type is a non-nullable array
    (ArraySqlAggregator.java ArrayAggReturnTypeInference —
    createArrayType(type, -1)); literals are NOT NULL; the functions
    above cascade per their registered inference. Everything else —
    columns, ALWAYS-nullable ops like array_offset_of / STRING_AGG —
    is treated nullable."""
    e = e.strip()
    if re.fullmatch(_PH, e) or re.fullmatch(r"[+-]?\d+(\.\d+)?", e):
        return True
    m = re.match(r"(?s)([A-Za-z_]\w*)\s*\((.*)\)\s*$", e)
    if not m:
        return False
    inner = m.group(2)
    depth = 0
    for ch in inner:  # the (...) must be ONE balanced argument list
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth < 0:
                return False
    if depth != 0:
        return False
    fn = m.group(1).lower()
    args = _split_top_commas(inner)
    if fn == "array_agg":
        return True
    if fn in _NOTNULL_CASCADE_FNS:
        return bool(args) and all(_calcite_notnull_expr(a) for a in args)
    if fn in _NOTNULL_ARG0_FNS:
        return bool(args) and _calcite_notnull_expr(args[0])
    return False


def _split_top_commas(s: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return [p for p in parts if p]


def _fold_notnull_is_null(out: str) -> str:
    """Calcite folds `x IS NULL` to FALSE (and `x IS NOT NULL` to
    TRUE) when x's inferred type is NOT NULL — observable on aliases
    of ARRAY_AGG-rooted chains: `(SELECT array_slice(array_agg(d),
    100, 101) AS col ...) WHERE ... OR col IS NULL` counts 0 rows in
    the reference even though the runtime value is null
    (qaAggFuncs array_agg_* A15/A26/A27/A32/A33 goldens). Mirror the
    fold for alias references whose every definition is a provably
    NOT-NULL call chain."""
    refs = {m.group(1).lower() for m in re.finditer(
        r"(?is)(?<![\w.])([A-Za-z_]\w*)\s+IS\s+(?:NOT\s+)?NULL", out)}
    if not refs:
        return out
    scalars = _schema().scalar_cols | set().union(
        *(_schema().table_columns.values() or [set()]))
    for alias in refs:
        if alias in scalars or alias in _schema().real_array_cols \
                or alias in _schema().mvd_cols:
            continue  # a real column of this name exists — too risky
        defs = list(re.finditer(
            rf"(?is)\bAS\s+({alias})(?![\w$])", out))
        if not defs:
            continue
        verdicts = []
        for dm in defs:
            k = dm.start() - 1
            while k >= 0 and out[k] in " \t\r\n":
                k -= 1
            if k < 0 or out[k] != ")":
                verdicts.append(False)
                continue
            depth, i = 0, k
            while i >= 0:
                if out[i] == ")":
                    depth += 1
                elif out[i] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                i -= 1
            h = i - 1
            while h >= 0 and out[h] in " \t\r\n":
                h -= 1
            s = h
            while s >= 0 and (out[s].isalnum() or out[s] == "_"):
                s -= 1
            if s == h:  # bare parenthesized expr, no callee name
                verdicts.append(False)
                continue
            p = s
            while p >= 0 and out[p] in " \t\r\n":
                p -= 1
            if p >= 0 and out[p] in "+-*/%|&^.":
                # the call is an operand of a larger infix expression
                # we can't see — don't claim NOT NULL for it
                verdicts.append(False)
                continue
            verdicts.append(_calcite_notnull_expr(out[s + 1:k + 1]))
        if verdicts and all(verdicts):
            out = re.sub(
                rf"(?is)(?<![\w.]){alias}\s+IS\s+NOT\s+NULL(?![\w$])",
                "TRUE", out)
            out = re.sub(
                rf"(?is)(?<![\w.]){alias}\s+IS\s+NULL(?![\w$])",
                "FALSE", out)
    return out


def _mvd_any_element_predicates(w: str, c: str) -> str:
    """Rewrite scalar predicates over MVD column `c` in a (masked)
    WHERE segment to row-level any-element forms, matching the
    reference's MVD filter semantics (a selector on a multi-value
    dimension matches when ANY element matches; NOT wraps the
    row-level result — docs/querying/multi-value-dimensions.md).
    Handles = / <> / != / [NOT] IN (list) / LIKE; everything else
    (IS NULL, functions over c) stays untouched and row-level."""
    cpat = rf"(?:[A-Za-z_]\w*\.)?{re.escape(c)}"
    val = rf"(?:{_PH}|[\w.$-]+)"
    w = re.sub(
        rf"(?is)(?<![\w.]){cpat}\s+NOT\s+IN\s*\(([^()]*)\)",
        lambda m: f"NOT ARRAYS_OVERLAP({c}, ARRAY({m.group(1)}))", w)
    w = re.sub(
        rf"(?is)(?<![\w.]){cpat}\s+IN\s*\(([^()]*)\)",
        lambda m: f"ARRAYS_OVERLAP({c}, ARRAY({m.group(1)}))", w)
    w = re.sub(
        rf"(?is)(?<![\w.]){cpat}\s*(?:!=|<>)\s*({val})",
        lambda m: f"NOT ARRAY_CONTAINS({c}, {m.group(1)})", w)
    w = re.sub(
        rf"(?is)(?<![\w.]){cpat}\s*=\s*({val})",
        lambda m: f"ARRAY_CONTAINS({c}, {m.group(1)})", w)
    w = re.sub(
        rf"(?is)(?<![\w.])({val})\s*=\s*{cpat}(?![\w.])",
        lambda m: f"ARRAY_CONTAINS({c}, {m.group(1)})", w)
    w = re.sub(
        rf"(?is)(?<![\w.]){cpat}\s+LIKE\s+({_PH})",
        lambda m: f"EXISTS({c}, __e -> __e LIKE {m.group(1)})", w)
    return w


def _union_mvd_alignment(out: str) -> str:
    """Table-level UNION ALL with a same-named column that is an MVD
    in one branch and a scalar in another: the reference's union
    datasource maps columns leniently and publishes the MVD as
    VARCHAR, so a PASS-THROUGH conflict plans fine
    (CalciteUnionQueryTest union_datasource cases 3/10: foo.dim3
    MVD vs foo2.dim3 LONG); Spark's UNION rejects array-vs-scalar.
    Coerce the conflicted pass-through columns to the MVD's published
    string form in every branch — but ONLY when the column is never
    referenced outside the union subquery (a referenced conflict IS
    an error in the reference too: case 9 MAX(dim3))."""
    tct = _schema().table_col_types
    if not tct or not re.search(r"(?is)\bUNION\s+ALL\b", out):
        return out
    if not any(k == "MVD" for cols in tct.values()
               for k in cols.values()):
        return out

    def classify(t: str, c: str) -> str | None:
        ty = tct.get(t, {}).get(c)
        if ty is None:
            return None
        if ty == "MVD":
            return "mvd"
        ty = ty.split("(")[0].lower()
        if ty in ("string", "varchar", "char"):
            return "string"
        if ty in ("tinyint", "smallint", "int", "bigint", "float",
                  "double", "decimal", "long", "integer"):
            return "num"
        return None

    def mvd_render(c: str) -> str:
        # the MVD's Druid-published VARCHAR: single element bare,
        # multi Java-toString
        return (f"CASE WHEN {c} IS NULL THEN NULL "
                f"WHEN SIZE({c}) = 1 THEN ELEMENT_AT({c}, 1) "
                f"ELSE CONCAT('[', ARRAY_JOIN(TRANSFORM({c}, "
                f"__ue -> COALESCE(__ue, 'null')), ', '), ']') END")

    # parenthesized groups whose depth-0 content carries UNION ALL
    spans = []
    i = 0
    while i < len(out):
        ch = out[i]
        if ch in "'\"":
            i = _skip_string(out, i)
        elif ch == "(":
            j = _find_spec_end(out, i + 1)
            if re.search(r"(?is)\bUNION\s+ALL\b", out[i + 1:j]):
                spans.append((i + 1, j))
        i += 1
    for si in range(len(spans) - 1, -1, -1):
        gs, ge = spans[si]
        content = out[gs:ge]
        # depth-0 UNION ALL split
        parts, cuts, d, k = [], [], 0, 0
        while k < len(content):
            ch = content[k]
            if ch in "'\"":
                k = _skip_string(content, k)
            elif ch in "([":
                d += 1
            elif ch in ")]":
                d -= 1
            elif d == 0 and content[k:k + 5].upper() == "UNION":
                m = re.match(r"(?is)UNION\s+ALL", content[k:])
                if m:
                    cuts.append((k, k + m.end()))
                    k += m.end()
                    continue
            k += 1
        if not cuts:
            continue
        prev = 0
        for cs, ce in cuts:
            parts.append(content[prev:cs])
            prev = ce
        parts.append(content[prev:])
        branches = []
        for p in parts:
            m = re.fullmatch(
                r"(?is)\s*SELECT\s+(.+?)\s+FROM\s+([A-Za-z_]\w*)\s*", p)
            if not m or m.group(2) not in tct:
                branches = None
                break
            proj = [x.strip() for x in m.group(1).split(",")]
            if any(not re.fullmatch(r"[A-Za-z_]\w*|\*", x)
                   for x in proj):
                branches = None
                break
            t = m.group(2)
            cols = []
            for x in proj:
                cols.extend(tct[t].keys() if x == "*" else [x])
            branches.append((t, cols))
        if not branches:
            continue
        width = len(branches[0][1])
        if any(len(c) != width for _t, c in branches):
            continue
        outside = out[:gs] + out[ge:]
        coerce_pos = set()
        for pos in range(width):
            kinds = {classify(t, c[pos]) for t, c in branches}
            if None in kinds or "mvd" not in kinds or len(kinds) < 2:
                continue
            if any(re.search(rf"(?i)(?<![\w.]){re.escape(c[pos])}\b",
                             outside) for _t, c in branches):
                continue  # referenced conflict: reference errors too
            coerce_pos.add(pos)
        if not coerce_pos:
            continue
        new_parts = []
        for t, cols in branches:
            items = []
            for pos, c in enumerate(cols):
                if pos in coerce_pos:
                    cls = classify(t, c)
                    expr = (mvd_render(c) if cls == "mvd"
                            else f"CAST({c} AS STRING)"
                            if cls == "num" else c)
                    items.append(f"{expr} AS {c}")
                else:
                    items.append(c)
            new_parts.append(
                f" SELECT {', '.join(items)} FROM {t} ")
        repl = " UNION ALL ".join(new_parts)
        out = out[:gs] + repl + out[ge:]
        # a span recorded EARLIER in scan order that contains this one
        # (nested UNION groups) now has a stale end offset — shift it
        # by the rewrite's length delta before it is processed
        delta = len(repl) - (ge - gs)
        if delta:
            for j in range(si):
                s2, e2 = spans[j]
                if s2 <= gs and e2 >= ge:
                    spans[j] = (s2, e2 + delta)
    return out


def _rewrite_call(sql: str, fname: str, builder) -> str:
    """Rewrite calls of `fname` via builder(args)->replacement | None
    (None = leave untouched). Balanced-paren scan, top-level comma
    split; quote-aware, so parens/commas/brackets inside string
    literals (LTRIM(col, ']'), LIKE 'a(%') don't derail the scan.
    Lets fixed-arity SQL UDFs serve Druid's optional-argument forms
    (tz / origin / format overloads).

    Under the mask-once pipeline (_MaskCtx set), args are unmasked
    before the builder sees them (builders read literal content:
    periods, formats, separators) and the replacement is re-masked
    into the shared store."""
    ctx = _MASK.get()
    pat = re.compile(rf"\b{fname}\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        depth, i, args, start = 1, m.end(), [], m.end()
        while depth and i < len(sql):
            ch = sql[i]
            if ch in "'\"":
                i = _skip_string(sql, i)
            elif ch in "([":  # brackets nest too: ARRAY['a','b'] args
                depth += 1
            elif ch == "]":
                depth -= 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    args.append(sql[start:i].strip())
            elif ch == "," and depth == 1:
                args.append(sql[start:i].strip())
                start = i + 1
            i += 1
        rep = builder([ctx.unmask(a) for a in args] if ctx else args)
        if rep is None:
            pos = i
        else:
            if ctx:
                rep = ctx.mask(rep)
            sql = sql[:m.start()] + rep + sql[i:]
            pos = m.start() + 1


def _rewrite_call_unless_windowed(sql: str, fname: str, builder) -> str:
    """_rewrite_call, but a call immediately followed by OVER is left
    alone (the windowed spelling keeps its own dedicated rewrite —
    wrapping a window aggregate in a HOF would detach the OVER)."""
    pat = re.compile(rf"\b{fname}\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        depth, i, args, start = 1, m.end(), [], m.end()
        while depth and i < len(sql):
            ch = sql[i]
            if ch in "'\"":
                i = _skip_string(sql, i)
            elif ch in "([":
                depth += 1
            elif ch == "]":
                depth -= 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    args.append(sql[start:i].strip())
            elif ch == "," and depth == 1:
                args.append(sql[start:i].strip())
                start = i + 1
            i += 1
        if re.match(r"\s*OVER\b", sql[i:], re.IGNORECASE):
            pos = i
            continue
        # a trailing FILTER (WHERE ...) must stay attached to the
        # aggregate INSIDE any wrapper the builder adds — the builder
        # marks the spot with __FILTER__
        filt = ""
        fm = re.match(r"\s*FILTER\s*\(", sql[i:], re.IGNORECASE)
        if fm:
            fend = _find_spec_end(sql, i + fm.end())
            filt = " " + sql[i + fm.start():fend + 1].strip()
            i = fend + 1
        ctx = _MASK.get()
        rep = builder([ctx.unmask(a) for a in args] if ctx else args)
        if rep is None:
            pos = i
        else:
            if ctx:
                rep = ctx.mask(rep)
            rep = rep.replace("__FILTER__", filt) if "__FILTER__" in rep \
                else rep + filt
            sql = sql[:m.start()] + rep + sql[i:]
            pos = m.start() + 1


# ---------------------------------------------------------------- sketch
# SQL-layer sketch compositions. Theta state is an exact distinct SET
# (array set ops mirror SketchSetPostAggregator); quantile finalizers
# compile to exact aggregate expressions over the unwrapped column.

_SKETCHY = re.compile(
    r"(?i)\b(DS_THETA|THETA_SKETCH_INTERSECT|THETA_SKETCH_UNION"
    r"|THETA_SKETCH_NOT|collect_set)\s*\(")
_QSK = re.compile(
    r"(?is)^\s*(?:DS_QUANTILES_SKETCH|TDIGEST_GENERATE_SKETCH)\s*\((.*)\)\s*$")


def _top_split(s: str) -> list[str]:
    parts, depth, start, i = [], 0, 0, 0
    while i < len(s):
        ch = s[i]
        if ch in "'\"":
            i = _skip_string(s, i)
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
        i += 1
    parts.append(s[start:].strip())
    return parts


def _strip_qsk(a: str) -> str | None:
    """DS_QUANTILES_SKETCH(col[, k]) -> col."""
    m = _QSK.match(a)
    return _top_split(m.group(1))[0] if m else None


def _quantile_call(qfn: str):
    def build(args):
        if len(args) < 2:
            return None
        col = _strip_qsk(args[0]) or args[0]
        if qfn == "KLL" and re.fullmatch(r"[0-9.]+", args[1].strip()):
            # sketch mode (r13): Datasketches KLL — the reference's
            # own quantile family (k=200 =
            # KllDoublesSketchAggregatorFactory default), measured
            # 5.4x faster than approx_percentile at 6M rows and
            # bounded-memory per group.  The rank arg must be
            # foldable; non-literal fractions fall back below.
            return (f"kll_sketch_get_quantile_double("
                    f"kll_sketch_agg_double(CAST({col} AS DOUBLE), "
                    f"200), {args[1]})")
        if qfn == "KLL":
            return f"APPROX_PERCENTILE({col}, {args[1]})"
        return f"{qfn}({col}, {args[1]})"
    return build


def _theta_estimate(exact: bool):
    def build(args):
        if len(args) != 1:
            return None
        a = args[0]
        if _SKETCHY.search(a):
            return f"SIZE({a})"
        return (f"COUNT(DISTINCT {a})" if exact else
                f"hll_sketch_estimate(hll_sketch_agg("
                f"{_hll_parity_input(a)}, 12))")
    return build


def _theta_setop(fn: str):
    def build(args):
        xs = list(args)
        if xs and re.fullmatch(r"\d+", xs[0]):
            xs = xs[1:]  # optional leading sketch-size arg
        if len(xs) < 2:
            return None
        expr = xs[0]
        for x in xs[1:]:
            expr = f"{fn}({expr}, {x})"
        return expr
    return build


def _theta_bounds(args):
    # exact sets: the bounds collapse onto the estimate
    sz = f"SIZE({args[0]}) * 1.0d"
    return f"array({sz}, {sz}, {sz})"


def _hll_union(args):
    xs = list(args)
    if xs and re.fullmatch(r"\d+", xs[0]):
        xs = xs[1:]  # optional leading lgK
    if len(xs) < 2:
        return None
    e = xs[0]
    for x in xs[1:]:
        e = f"hll_union({e}, {x})"
    return e


def _hll_bounds(args):
    # analytic bounds at lgK=12 (RSE ~1.63%) around the estimate —
    # HllSketchToEstimateWithBoundsPostAggregator returns
    # [estimate, lower, upper]
    n = args[1] if len(args) > 1 else "1"
    est = f"hll_sketch_estimate({args[0]})"
    return (f"array({est} * 1.0d, {est} / (1.0d + {n} * 0.0163d), "
            f"{est} * (1.0d + {n} * 0.0163d))")


def _ds_get_quantiles(args):
    if len(args) < 2:
        return None
    col = _strip_qsk(args[0]) or args[0]
    qs = ", ".join(f"PERCENTILE({col}, {f})" for f in args[1:])
    return f"array({qs})"


def _ds_rank(args):
    # fraction of mass <= value (DoublesSketchToRank, inclusive)
    if len(args) != 2:
        return None
    col = _strip_qsk(args[0]) or args[0]
    return f"avg(CASE WHEN {col} <= {args[1]} THEN 1.0d ELSE 0.0d END)"


def _ds_cdf(args):
    # cumulative mass below each split point, then the total 1.0
    # (DoublesSketchToCDF; split membership exclusive like ToHistogram)
    if len(args) < 2:
        return None
    col = _strip_qsk(args[0]) or args[0]
    items = [f"avg(CASE WHEN {col} < {s} THEN 1.0d ELSE 0.0d END)"
             for s in args[1:]]
    items.append("1.0d")
    return f"array({', '.join(items)})"


def _ds_histogram(args):
    # per-bin counts for splits s1..sn -> n+1 bins
    # (DoublesSketchToHistogram returns double[] masses * n)
    if len(args) < 2:
        return None
    col = _strip_qsk(args[0]) or args[0]
    splits = args[1:]
    items = [f"sum(CASE WHEN {col} < {splits[0]} THEN 1.0d ELSE 0.0d END)"]
    for lo, hi in zip(splits, splits[1:]):
        items.append(f"sum(CASE WHEN {col} >= {lo} AND {col} < {hi} "
                     "THEN 1.0d ELSE 0.0d END)")
    items.append(f"sum(CASE WHEN {col} >= {splits[-1]} THEN 1.0d ELSE 0.0d END)")
    return f"array({', '.join(items)})"


# ------------------------------------------------------- bloom / tuple
# SQL forms of the bloom-filter and arrayOfDoubles (tuple) sketch
# extensions. Both compile to the engine-internal representations the
# native-query paths already use (aggregations.py `bloom` /
# `arrayOfDoublesSketch`): the bloom holder is a sparse-bitset struct
# (m, k, positions) — the SAME hashing as filters.bloom_positions, so
# SQL-built filters interoperate with native `bloom` probes — and the
# tuple forms are exact-mode aggregate expressions. Neither emits the
# reference's serialized blob format (documented engine-internal, like
# sketch_state.py); reference surface:
# extensions-core/druid-bloom-filter/.../sql/BloomFilterSqlAggregator.java,
# extensions-core/datasketches/.../tuple/sql/*.java.

def _bloom_filter_build(args):
    # BLOOM_FILTER(expr, maxNumEntries) -> engine bloom holder struct.
    # Sizing and hashing come from filters.bloom_sizing/bloom_positions
    # (single source of truth) so SQL-built holders interoperate with
    # native `bloom` probes and vice versa. NULLs hash as '' and are
    # recorded, mirroring BloomKFilter.addBytes(null).
    from druid_spark.filters import bloom_sizing
    n_hint = 0
    if len(args) > 1 and re.fullmatch(r"\d+", args[1]):
        n_hint = int(args[1])
    m, k = bloom_sizing(n_hint)
    s = f"coalesce(CAST({args[0]} AS STRING), '')"
    pos = ", ".join(f"pmod(xxhash64({i}, {s}), {m})"
                    for i in range(k))
    return (f"named_struct('m', {m}, 'k', {k}, 'positions', "
            f"array_sort(array_distinct(flatten(collect_set("
            f"array({pos}))))))")


def _bloom_filter_test(args):
    # BLOOM_FILTER_TEST(expr, holder) — holder is an engine bloom
    # struct (typically a scalar subquery over BLOOM_FILTER(...)).
    # All k seeded-hash positions must be occupied; identical
    # double-hashing to the build side / filters.bloom_positions.
    # Membership = every probe position survives array_except against
    # the holder's occupied set. The holder is interpolated 7 times
    # (one .m per seed term, one .k, one .positions) — Spark rejects
    # subqueries ANYWHERE inside higher-order functions
    # (UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.HIGHER_ORDER_FUNCTION),
    # so a bind-once lambda is impossible; ReuseSubquery collapses the
    # identical scalar-subquery copies at execution. slice(..., 1, k)
    # honors holders built with smaller k. NULL probes hash as '' and
    # match iff a null/'' was recorded (BloomKFilter.testBytes(null)).
    from druid_spark.filters import BLOOM_DEFAULT_K
    if len(args) != 2:
        return None
    x, b = args
    s = f"coalesce(CAST({x} AS STRING), '')"
    probe = ", ".join(f"pmod(xxhash64({i}, {s}), ({b}).m)"
                      for i in range(BLOOM_DEFAULT_K))
    return (f"(size(array_except(slice(array({probe}), 1, ({b}).k), "
            f"({b}).positions)) = 0)")


_TDW = re.compile(r"(?is)^\s*DS_TUPLE_DOUBLES\s*\((.*)\)\s*$")


def _tuple_args(a: str) -> tuple[list[str], int | None] | None:
    """DS_TUPLE_DOUBLES(key, m1..mn[, nominalEntries]) ->
    ([key, m1..], nominalEntries-or-None). No explicit nominalEntries
    falls back to the session default
    (_RewriteCtx.default_nominal_entries — None in exact / oracle
    sessions = exact unbounded state; see
    aggregations.tuple_map_state)."""
    m = _TDW.match(a)
    if not m:
        return None
    xs = _top_split(m.group(1))
    cap = _CTX.get().default_nominal_entries
    if len(xs) > 1 and re.fullmatch(r"\d+", xs[-1].strip()):
        cap = max(2, int(xs[-1]))
        xs = xs[:-1]
    return xs, cap


_TUPLE_SETOP_RE = re.compile(
    r"(?is)^\s*DS_TUPLE_DOUBLES_(INTERSECT|UNION|NOT)\s*\((.*)\)\s*$")


def _tuple_map_state_sql(key: str, metrics: list[str],
                         cap: int | None = None) -> str:
    """SQL text of the per-key metric-sum map state — the textual twin
    of aggregations.tuple_map_state (same single-fold build over the
    sorted entries, same cost/memory contract).

    An EXPLICIT nominalEntries bounds the state (round 6): entries
    sort by the key's 64-bit hash, and the fold stops admitting NEW
    keys once the map holds `cap` entries — since later entries have
    strictly larger hashes, the retained set is exactly the
    bottom-`cap` keys by hash, the classic KMV sample the reference's
    sketch keeps (ArrayOfDoublesSketchAggregatorFactory.java
    nominalEntries). Below the cap the state is the full exact map;
    above it, per-group memory is O(cap × metrics). cap=None (no
    nominalEntries in the SQL) keeps the exact unbounded map — the
    oracle-checkable mode (see aggregations.tuple_map_state)."""
    vs = ", ".join(f"CAST({m} AS DOUBLE)" for m in metrics)
    zeros = f"array_repeat(CAST(0.0 AS DOUBLE), {len(metrics)})"
    entry = (f"CASE WHEN {key} IS NOT NULL THEN named_struct("
             f"'h', xxhash64(CAST({key} AS STRING)), "
             f"'k', CAST({key} AS STRING), 'vs', array({vs})) END")

    def st(m, k, acc, d):
        return (f"named_struct('m', {m}, 'k', {k}, 'acc', {acc}, "
                f"'d', {d})")

    return (
        "aggregate("
        f"sort_array(collect_list({entry})), "
        + st("from_json('{}', 'map<string,array<double>>')",
             "CAST(NULL AS STRING)", zeros, "false") + ", "
        "(s, e) -> CASE "
        "WHEN s.d THEN s "
        "WHEN s.k IS NULL THEN "
        + st("s.m", "e.k", "e.vs", "false") + " "
        "WHEN e.k = s.k THEN "
        + st("s.m", "s.k", "zip_with(s.acc, e.vs, (x, y) -> x + y)",
             "false") + " "
        + (f"WHEN size(s.m) + 1 >= {cap} THEN "
           + st("map_concat(s.m, map(s.k, s.acc))",
                "CAST(NULL AS STRING)", zeros, "true") + " "
           if cap is not None else "")
        + "ELSE " + st("map_concat(s.m, map(s.k, s.acc))", "e.k", "e.vs",
                       "false") + " END, "
        "s -> CASE WHEN s.k IS NULL THEN s.m "
        "ELSE map_concat(s.m, map(s.k, s.acc)) END)")


def _tuple_expand(a: str) -> tuple[str, int] | None:
    """DS_TUPLE_DOUBLES / DS_TUPLE_DOUBLES_{INTERSECT,UNION,NOT}
    expression text → (map-state SQL, n_metrics). The set ops are pure
    map algebra with capture-free lambdas (an aggregate referenced
    INSIDE a lambda is illegal, so NOT zips both maps instead of
    probing the right one per key)."""
    m = _TUPLE_SETOP_RE.match(a)
    if m:
        func = m.group(1).upper()
        parts = _top_split(m.group(2))
        if len(parts) > 2 and re.fullmatch(r"\d+", parts[-1].strip()):
            parts = parts[:-1]  # trailing nominalEntries
        exp = [_tuple_expand(p) for p in parts]
        if len(exp) < 2 or any(e is None for e in exp):
            return None
        out, n = exp[0]
        for c, _n in exp[1:]:
            if func == "UNION":
                out = (f"map_zip_with({out}, {c}, (k, a, b) -> "
                       f"CASE WHEN a IS NULL THEN b "
                       f"WHEN b IS NULL THEN a "
                       f"ELSE zip_with(a, b, (x, y) -> x + y) END)")
            elif func == "INTERSECT":
                out = (f"map_filter(map_zip_with({out}, {c}, "
                       f"(k, a, b) -> CASE WHEN a IS NOT NULL AND "
                       f"b IS NOT NULL THEN "
                       f"zip_with(a, b, (x, y) -> x + y) END), "
                       f"(k, v) -> v IS NOT NULL)")
            else:  # NOT: keys of the left absent from the right
                out = (f"map_filter(map_zip_with({out}, {c}, "
                       f"(k, a, b) -> CASE WHEN b IS NULL THEN a END), "
                       f"(k, v) -> v IS NOT NULL)")
        return out, n
    ta = _tuple_args(a)
    if ta and len(ta[0]) >= 2:
        xs, cap = ta
        return _tuple_map_state_sql(xs[0], xs[1:], cap), len(xs) - 1
    return None


def _tuple_metrics_sum(args):
    if not args:
        return None
    if _TUPLE_SETOP_RE.match(args[0]):
        exp = _tuple_expand(args[0])
        if exp is None:
            return None
        map_sql, n = exp
        return (f"aggregate(map_values({map_sql}), "
                f"array_repeat(CAST(0.0 AS DOUBLE), {n}), "
                f"(acc, v) -> zip_with(acc, v, (x, y) -> x + y))")
    # exact mode: every update folds its values into the key's entry,
    # so the across-entries metric total is the plain column SUM
    ta = _tuple_args(args[0])
    if not ta or len(ta[0]) < 2:
        return None
    sums = ", ".join(f"CAST(SUM({x}) AS DOUBLE)" for x in ta[0][1:])
    return f"array({sums})"


def _tuple_estimate(args):
    if not args:
        return None
    if _TUPLE_SETOP_RE.match(args[0]):
        exp = _tuple_expand(args[0])
        return (f"CAST(size({exp[0]}) AS DOUBLE)"
                if exp is not None else None)
    ta = _tuple_args(args[0])
    if not ta:
        return None
    return f"CAST(COUNT(DISTINCT {ta[0][0]}) AS DOUBLE)"


def _tuple_setop_standalone(op: str, args):
    """A bare set-op select finalizes to its estimate, like the
    standalone DS_TUPLE_DOUBLES arm."""
    exp = _tuple_expand(f"DS_TUPLE_DOUBLES_{op}({', '.join(args)})")
    return f"CAST(size({exp[0]}) AS DOUBLE)" if exp is not None else None


def _tuple_standalone(args):
    # bare DS_TUPLE_DOUBLES select: finalize like the native path's
    # standalone arm (distinct-key count as the estimate)
    if not args:
        return None
    return f"CAST(COUNT(DISTINCT {args[0]}) AS DOUBLE)"


def _time_in_interval(args):
    """TIME_IN_INTERVAL(ts, 'interval'): when the interval is a string
    LITERAL (the only form the reference's planner accepts —
    sql/.../expression/builtin/TimeInIntervalConvertletFactory.java
    requires a literal and parses it with Intervals.of), inline the
    Joda-parsed [start, end) bounds. This supports all three ISO forms
    (start/end, start/period, period/end) and partial timestamps
    ('2000/P1D'), which the 2-arg SQL UDF fallback cannot parse."""
    if len(args) != 2:
        return None
    m = re.fullmatch(r"(?s)\s*'([^']*)'\s*", args[1])
    if not m:
        return None
    from druid_spark.granularity import parse_iso_interval
    try:
        a, b = parse_iso_interval(m.group(1))
    except Exception:
        return None  # malformed literal → let the UDF raise/NULL
    return (f"(({args[0]}) >= TIMESTAMP '{a}' "
            f"AND ({args[0]}) < TIMESTAMP '{b}')")


# HumanReadableFormatFunc (processing/.../expression/
# HumanReadableFormatExprMacro): optional precision arg (0-3, default
# 2). The registered SQL UDFs are fixed-arity 1-arg; the 2-arg literal-
# precision form inlines the same CASE ladder with %.{p}f.
_HR_LADDERS = {
    "HUMAN_READABLE_BINARY_BYTE_FORMAT": (
        "concat({n}, ' B')",
        [(1024, "1024e0", "KiB"), (1048576, "1048576e0", "MiB"),
         (1073741824, "1073741824e0", "GiB"),
         (1099511627776, "1099511627776e0", "TiB")],
        ("1125899906842624e0", "PiB")),
    "HUMAN_READABLE_DECIMAL_BYTE_FORMAT": (
        "concat({n}, ' B')",
        [(1000, "1e3", "KB"), (1000000, "1e6", "MB"),
         (1000000000, "1e9", "GB")],
        ("1e12", "TB")),
    "HUMAN_READABLE_DECIMAL_FORMAT": (
        "cast({n} AS STRING)",
        [(1000, "1e3", "K"), (1000000, "1e6", "M"),
         (1000000000, "1e9", "G")],
        ("1e12", "T")),
}


def _human_readable(fname: str):
    first, ladder, (fdiv, funit) = _HR_LADDERS[fname]

    def build(args):
        if len(args) != 2 or not re.fullmatch(r"[0-3]", args[1].strip()):
            return None
        n, p = args[0], int(args[1])
        arms = [f"WHEN ({n}) IS NULL THEN CAST(NULL AS STRING)",
                f"WHEN abs({n}) < {ladder[0][0]} THEN "
                + first.format(n=n)]
        for i, (_, div, unit) in enumerate(ladder):
            nxt = ladder[i + 1][0] if i + 1 < len(ladder) else None
            cond = f"abs({n}) < {nxt}" if nxt else None
            body = f"format_string('%.{p}f {unit}', ({n}) / {div})"
            arms.append(f"WHEN {cond} THEN {body}" if cond
                        else f"WHEN abs({n}) < 0 THEN {body}")
        # last ladder arm has no upper bound; fold it + final unit
        arms[-1] = (f"WHEN abs({n}) < {int(float(fdiv))} THEN "
                    f"format_string('%.{p}f {ladder[-1][2]}', "
                    f"({n}) / {ladder[-1][1]})")
        arms.append(f"ELSE format_string('%.{p}f {funit}', "
                    f"({n}) / {fdiv})")
        return "(CASE " + " ".join(arms) + " END)"
    return build


_TS_ARG = re.compile(
    r"(?is)^(?:(?:[A-Za-z_]\w*\.)?__time|TIMESTAMP\s+'[^']*')$")
_TS_FUNC_HEAD = re.compile(
    r"(?is)^(?:TIME_FLOOR|TIME_CEIL|TIME_SHIFT|TIME_PARSE"
    r"|MILLIS_TO_TIMESTAMP)\s*\(")


def _is_ts_expr(expr: str) -> bool:
    """True for syntactically-certain timestamp expressions: __time, a
    TIMESTAMP literal, or a single timestamp-returning function call
    spanning the whole text (depth returns to zero only at the end, so
    `TIME_FLOOR(a) + TIME_FLOOR(b)` does not qualify)."""
    expr = expr.strip()
    if _TS_ARG.match(expr):
        return True
    m = _TS_FUNC_HEAD.match(expr)
    if not m or not expr.endswith(")"):
        return False
    depth, i = 1, m.end()
    while i < len(expr):
        ch = expr[i]
        if ch in "'\"":
            i = _skip_string(expr, i)
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i == len(expr) - 1
        i += 1
    return False


def _cast_ts_bigint(args):
    """CAST(expr AS BIGINT), two reference semantics:
    - a syntactically-certain TIMESTAMP expr → epoch MILLIS (Druid
      timestamps are native-layer longs —
      sql/.../expression/CastOperatorConversion.java; Spark's cast
      yields SECONDS);
    - anything else gains a double-parse fallback: Druid parses
      fractional strings ('1.0' → 1, Rows.objectToNumber long-then-
      double) where Spark/ANSI-off yields NULL. TRY_CAST to BIGINT
      first preserves full long precision; only when that is NULL does
      the value go through DOUBLE truncation (CalciteQueryTest
      testSafeDivide pins the '1.0' case)."""
    if len(args) != 1:
        return None
    m = re.match(r"(?is)^(.*\S)\s+AS\s+BIGINT\s*$", args[0])
    if not m:
        return None
    e = m.group(1)
    if _is_ts_expr(e):
        return f"UNIX_MILLIS({e})"
    if not _is_string_expr(e):
        return None  # numeric/unknown: Spark's cast is already right
    # TRY_CAST throughout: a plain CAST(..AS BIGINT) in the replacement
    # would re-match this builder on the rescan and expand forever
    return (f"COALESCE(TRY_CAST({e} AS BIGINT), "
            f"TRY_CAST(TRY_CAST({e} AS DOUBLE) AS BIGINT))")


def _rewrite_windowed_array_concat_agg(sql: str) -> str:
    """ARRAY_CONCAT_AGG(x) OVER <spec> →
    FLATTEN(COLLECT_LIST(x) OVER <spec>)."""
    pat = re.compile(r"(?is)\bARRAY_CONCAT_AGG\s*\(")
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        close = _find_spec_end(sql, m.end())
        arg = sql[m.end():close]
        # optional maxSizeBytes second arg (ArrayConcatSqlAggregator)
        # is a size hint, not a semantic: strip at top-level comma
        depth = 0
        for i, ch in enumerate(arg):
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                arg = arg[:i]
                break
        rest = sql[close + 1:]
        om = re.match(r"(?is)\s*OVER\s*(\(|\w+)", rest)
        if not om:
            pos = close
            continue
        if om.group(1) == "(":
            oend = _find_spec_end(rest, om.end())
            over = rest[:oend + 1]
        else:
            over = rest[:om.end()]
        repl = f"FLATTEN(COLLECT_LIST({arg}) {over.strip()})"
        sql = sql[:m.start()] + repl + rest[len(over):]
        pos = m.start() + len(repl)


def _cast_to_timestamp(args):
    """CAST(expr AS TIMESTAMP): Druid casts NUMERICS as epoch MILLIS
    (CastOperatorConversion — timestamps are native longs; Spark's
    cast reads SECONDS). String exprs keep Spark's ISO parse; unknown
    types dispatch on the runtime type (typeof is the column's static
    type, both CASE branches are TIMESTAMP so types unify).
    drill/window aggregates/winFnQry_14: MAX(CAST(col4 AS TIMESTAMP))
    over a millis LONG must be year 2014, not 46387."""
    if len(args) != 1:
        return None
    m = re.match(r"(?is)^(.*\S)\s+AS\s+TIMESTAMP\s*$", args[0])
    if not m:
        return None
    e = m.group(1)
    if _is_string_expr(e) or _is_ts_expr(e):
        return None  # Spark's cast already matches
    if re.fullmatch(r"(?is)\s*(CURRENT_DATE|DATE\s+'[^']*')\s*", e):
        # DATE exprs: Spark rejects the numeric guard's
        # try_cast(date AS DOUBLE) at analysis — plain cast is right
        return None
    if re.fullmatch(r"\s*-?\d+\s*", e):
        return f"TIMESTAMP_MILLIS({e})"
    return (f"CASE WHEN typeof({e}) IN ('bigint','int','smallint',"
            f"'tinyint','double','float') OR typeof({e}) LIKE 'decimal%'"
            f" THEN TIMESTAMP_MILLIS(TRY_CAST(TRY_CAST({e} AS DOUBLE)"
            f" AS BIGINT))"
            f" ELSE TRY_CAST({e} AS TIMESTAMP) END")


def _is_string_expr(expr: str) -> bool:
    """True for syntactically-certain STRING expressions: a string
    literal, or one whole CAST/TRY_CAST(... AS CHAR/VARCHAR/STRING)
    call (the AS CHAR → AS STRING rewrite has already run)."""
    expr = expr.strip()
    if re.fullmatch(r"(?s)'[^']*'", expr):
        return True
    m = re.match(r"(?is)^(?:TRY_)?CAST\s*\(", expr)
    if not m or not re.search(r"(?is)AS\s+(?:STRING|VARCHAR|CHAR)\s*\)$",
                              expr):
        return False
    depth, i = 1, m.end()
    while i < len(expr):
        ch = expr[i]
        if ch in "'\"":
            i = _skip_string(expr, i)
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i == len(expr) - 1
        i += 1
    return False


def _millisify(expr: str) -> str:
    """Druid stringifies/collects TIMESTAMP values as epoch millis
    (native-layer longs). Applied only to syntactically certain
    timestamp args (__time / TIMESTAMP literals) — a regex shim has no
    type information for arbitrary expressions."""
    return (f"CAST(UNIX_MILLIS({expr}) AS STRING)"
            if _TS_ARG.match(expr) else expr)


def _split_distinct(a: str) -> tuple[str, str]:
    m = re.match(r"(?is)^\s*(DISTINCT\s+)?(.*)$", a)
    return (m.group(1) or "", m.group(2).strip())


def _string_agg_call(args):
    """STRING_AGG(expr, sep[, maxSizeBytes]) → LISTAGG(expr', sep).
    See call site for the reference contract."""
    if len(args) < 2 or len(args) > 3:
        return None
    pre, expr = _split_distinct(args[0])
    expr = _millisify(expr)
    rest = args[1]
    if len(args) == 3:
        if re.fullmatch(r"\d+", args[2].strip()):
            pass  # maxSizeBytes cap dropped (unbounded strings)
        else:
            rest = f"{args[1]}, {args[2]}"
    if pre:
        # DISTINCT accumulates through the reference's sorted-set
        # fold of STRINGS — output ascending lexicographically (''
        # first: qaUnnest mv agg_funcs pins '|1|2|3'). The explicit
        # CAST makes Spark's WITHIN-GROUP-must-match-DISTINCT-input
        # check accept the ordering expression.
        # __DS_WG__ placeholder: resolved to WITHIN GROUP at the end
        # of the rewrite, UNLESS the user wrote an explicit WITHIN
        # GROUP right after the call — then theirs wins and the
        # string-cast markers resolve to nothing (Spark requires the
        # DISTINCT input and the ordering expression to be identical)
        return (f"LISTAGG({pre}__DS_CS__{expr}__DS_CE__, {rest}) "
                f"__DS_WG__(ORDER BY __DS_CS__{expr}__DS_CE__)")
    return f"LISTAGG({pre}{expr}, {rest})"


def _cap_string_aggs(out: str) -> str:
    """Enforce the reference's collection byte cap on STRING_AGG /
    LISTAGG (StringSqlAggregator.java — the accumulator is an
    ARRAY<STRING> of the non-null inputs, capped at maxSizeBytes,
    default 1024; explicit cap via the third argument). Wraps the
    original call (plus its trailing WITHIN GROUP / FILTER clauses,
    which must stay inside the wrapper) in a size check built from
    plain aggregates; the inner call is rewritten to LISTAGG by the
    later passes. Windowed spellings are left untouched — the cap
    applies to the aggregation path."""
    pat = re.compile(r"\b(?:STRING_AGG|LISTAGG)\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(out, pos)
        if not m:
            return out
        depth, i, args, start = 1, m.end(), [], m.end()
        while depth and i < len(out):
            ch = out[i]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0:
                    args.append(out[start:i].strip())
            elif ch == "," and depth == 1:
                args.append(out[start:i].strip())
                start = i + 1
            i += 1
        if depth or len(args) < 2 or len(args) > 3:
            pos = i
            continue
        j, filt = i, ""
        while True:
            wm = re.match(r"\s*WITHIN\s+GROUP\s*\(", out[j:], re.I)
            fm = re.match(r"\s*FILTER\s*\(", out[j:], re.I)
            mm = wm or fm
            if not mm:
                break
            e2 = _find_spec_end(out, j + mm.end())
            if fm:
                filt = " " + out[j:e2 + 1].strip()
            j = e2 + 1
        if re.match(r"\s*OVER\b", out[j:], re.IGNORECASE):
            pos = j
            continue
        cap = 1024
        if len(args) == 3:
            if not re.fullmatch(r"\d+", args[2].strip()):
                pos = j
                continue
            cap = int(args[2].strip())
        pre, expr = _split_distinct(args[0])
        e = f"CAST({_millisify(expr)} AS STRING)"
        if pre:
            size = (f"AGGREGATE(COLLECT_SET({e}){filt}, 5L, "
                    f"(__a, __x) -> __a + 5L + OCTET_LENGTH(__x))")
        else:
            size = (f"(5L + 5 * COUNT({e}){filt} + "
                    f"COALESCE(SUM(OCTET_LENGTH({e})){filt}, 0))")
        call_txt = out[m.start():j]
        ctx = _MASK.get()
        msg = (f"'Exceeded memory usage when aggregating, size of "
               f"the collection is larger than max [{cap}] bytes'")
        if ctx:
            msg = ctx.mask(msg)
        rep = f"IF({size} > {cap}, RAISE_ERROR({msg}), {call_txt})"
        out = out[:m.start()] + rep + out[j:]
        pos = m.start() + len(rep)


def _mv_elem_coerce(scalar: str, arr: str) -> str:
    """The value appended/prepended to an MVD casts through the
    ARRAY's element type first (MvAppend/PrependFunction castTo
    array1Type): mv_prepend('A', a_bool) over a LONG array yields a
    NULL element (qaArray ops_funcs_mv_funcs B10 pins
    [null,"1","0",null])."""
    et = _schema().array_elem.get(arr.strip(), "").split("(")[0].lower()
    if not et:
        # json_value(... RETURNING t array) carries its element type
        # into the rewritten FROM_JSON(..., 'array<t>') schema —
        # booleans are LONG arrays in the reference (ExpressionType
        # has no boolean), so 'A' -> null there too (qaArray
        # ops_funcs_mv_funcs.05 B10/B11 batteries). The EXISTS
        # type-probe always uses array<string>; any OTHER schema is
        # the RETURNING element type.
        types = {t.lower() for t in re.findall(
            r"(?i)'array<(\w+)[^']*'", arr)} - {"string"}
        if len(types) == 1:
            et = types.pop()
    if et in ("bigint", "int", "smallint", "tinyint", "long",
              "integer", "boolean"):
        return f"CAST(CAST({scalar} AS BIGINT) AS STRING)"
    if et in ("double", "float", "decimal", "real"):
        return f"CAST(CAST({scalar} AS DOUBLE) AS STRING)"
    return f"CAST({scalar} AS STRING)"


def _d_suffix_literal(expr: str) -> str:
    """A bare decimal literal types as DECIMAL in Spark but DOUBLE in
    Druid SQL; D-suffix it so array element types line up
    (array_prepend(333.3333333, array_agg(dbl_col)) — qaAggFuncs)."""
    return re.sub(r"^(\d+\.\d+)$", r"\1D", expr.strip())


def _array_slice_call(a):
    """ARRAY_SLICE / MV_SLICE with the reference's exact edge rules
    (Function.java ArraySliceFunction): NULL when start < 0, start >
    length, or start > end; Arrays.copyOfRange pads with nulls when
    end exceeds the array length."""
    if len(a) not in (2, 3):
        return None
    arr, s = a[0], a[1]
    e = a[2] if len(a) == 3 else f"SIZE({arr})"
    return (f"CASE WHEN ({arr}) IS NULL THEN NULL"
            f" WHEN ({s}) < 0 OR ({s}) > SIZE({arr}) OR ({s}) > ({e})"
            f" THEN NULL"
            f" WHEN ({s}) = ({e}) THEN SLICE({arr}, 1, 0)"
            f" ELSE TRANSFORM(SEQUENCE(({s}) + 1, ({e})), __i ->"
            f" IF(__i <= SIZE({arr}), ELEMENT_AT({arr}, __i), NULL)) END")


def _agg_size_guard(body: str, expr: str, cap: int) -> str:
    """Wrap a collected-array expression with the reference's
    collection size cap (ExpressionLambdaAggregator.java:64 — every
    accumulate step estimates the accumulator's byte size and throws
    when it exceeds maxSizeBytes, default 1024 =
    ExpressionLambdaAggregatorFactory.java:69). The estimate model is
    TypeStrategies.java: nullable wrapper 1B + array header 4B + per
    element (1B null flag + 8B numeric | 4B + utf8 length string).
    Growth is monotone, so checking the final collection is
    equivalent to the reference's per-step check."""
    base = re.sub(r"^[A-Za-z_]\w*\.", "", expr.strip())
    t = _schema().scalar_types.get(base, "").split("(")[0].lower()
    is_string = (t in ("varchar", "string", "char", "text")
                 or re.fullmatch(_PH, expr.strip()) is not None)
    szfn = ("(__a, __x) -> __a + IF(__x IS NULL, 1L, "
            "5L + OCTET_LENGTH(CAST(__x AS STRING)))" if is_string
            else "(__a, __x) -> __a + IF(__x IS NULL, 1L, 9L)")
    return (f"IF(AGGREGATE({body}, 5L, {szfn}) > {cap}, "
            f"RAISE_ERROR('Exceeded memory usage when aggregating, "
            f"size of the collection is larger than max "
            f"[{cap}] bytes'), {body})")


def _array_agg_call(args):
    """ARRAY_AGG([DISTINCT] expr[, maxSizeBytes]): enforce the byte
    cap (default 1024 — ExpressionLambdaAggregatorFactory.java:69;
    explicit via the maxSizeBytes argument —
    ArraySqlAggregator.java:88), millis-ify timestamp args, and keep
    NULL inputs — the reference's ARRAY_AGG aggregates nulls
    (qaAggFuncs array_agg_* goldens: length(array_agg(col)) counts
    the 6 null rows; DISTINCT includes a null element) where Spark's
    array_agg skips them.  Struct-wrap carries nulls through the
    collect; TRANSFORM unwraps."""
    if not args or len(args) > 2:
        return None
    if len(args) == 2 and not re.fullmatch(r"\d+", args[1].strip()):
        return None  # not the maxSizeBytes form (e.g. ORDER BY split?)
    cap = int(args[1].strip()) if len(args) == 2 else 1024
    pre, expr = _split_distinct(args[0])
    new = _millisify(expr)
    # millis version collects longs, matching the reference's output
    if new != expr:
        new = f"UNIX_MILLIS({expr})"
    # COLLECT_LIST/SET spellings so the replacement can't re-match the
    # ARRAY_AGG scan; structs keep nulls through either collector;
    # __FILTER__ re-attaches a trailing FILTER (WHERE ...) clause to
    # the aggregate rather than the TRANSFORM wrapper. Zero NON-NULL
    # inputs → NULL (the reference's agg buffer never initializes —
    # qaAggFuncs array_agg over an all-null group renders blank), yet
    # a group with any non-null keeps its null elements.
    agg = "COLLECT_SET" if pre else "COLLECT_LIST"
    body = (f"TRANSFORM({agg}(NAMED_STRUCT('v', {new}))__FILTER__, "
            f"__s -> __s.v)")
    if pre:
        # DISTINCT accumulates through the reference's array_set_add
        # (a sorted set): output is ascending with null first
        # (qaUnnest array_sql_agg_funcs pins [null, 1, 2]), and an
        # all-null group keeps its null as [null] (qaUnnest D1
        # batteries; qaAggFuncs array_agg test002/003 A31 counts the
        # [null] group through NOT array_contains). What rounds 4-10
        # read as "the corpora disagree" — qaAggFuncs A33-A37 pinning
        # strlen(array_to_string(array_agg(DISTINCT x), '')) = NULL —
        # is actually ArrayToStringFunction's single-null special
        # case (Function.java:3643: [null] stringifies to null), now
        # modeled in register.py, so BOTH suites hold with a [null]
        # group. The plain collector likewise keeps an all-null group
        # as [null, ...] (array_sql_agg_funcs GROUP BY c pins
        # [null, null, null]).
        body = f"SORT_ARRAY({body}, TRUE)"
        return _agg_size_guard(
            f"IF(COUNT(1)__FILTER__ = 0, NULL, {body})", expr, cap)
    # plain arm: ZERO input ROWS → NULL (nil buffer), but an all-null
    # group keeps its null elements — count rows, not values
    return _agg_size_guard(
        f"IF(COUNT(1)__FILTER__ = 0, NULL, {body})", expr, cap)


_HLLY = re.compile(r"(?i)\b(DS_HLL|hll_sketch_agg|hll_union)\s*\(")


def _hll_parity_input(a: str) -> str:
    """Druid-parity update stream for Spark's JVM Datasketches
    hll_sketch_agg (r13): the reference's HllSketchBuildUtil.java:36-61
    updates Integer/Long via update(long), Float/Double via
    update(double), and String via update(char[]) under the UTF16LE
    default (HllSketchAggregatorFactory.java:52).  MurmurHash3's
    char[]/long[] entry points hash identically to the byte[] entry
    over the equivalent little-endian bytes, so: BIGINT passes raw
    (Spark's agg calls update(long) itself), DOUBLE becomes the LE
    bytes of doubleToLongBits (canonicalized — __ds_hll_d2b), and
    STRING becomes its UTF-16LE bytes.  Estimates are then numerically
    identical to the reference's APPROX_COUNT_DISTINCT_DS_HLL for the
    same value stream (differential-tested against the JVM
    org.apache.datasketches.hll.HllSketch in
    tests/test_sketches.py)."""
    e = a.strip()
    t = _schema().scalar_types.get(e, "").split("(")[0].lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return f"CAST({e} AS BIGINT)"
    if t in ("float", "double", "real"):
        return (f"CASE WHEN {e} IS NOT NULL THEN "
                f"__ds_hll_d2b(CAST({e} AS DOUBLE)) END")
    return f"encode(CAST({e} AS STRING), 'UTF-16LE')"


def _hll_to_string(args):
    # HLL_SKETCH_TO_STRING — human-readable sketch summary
    # (HllSketchToStringPostAggregator analog). Engine format: the
    # estimate line only; exact for cardinalities far below 2^lgK.
    if len(args) != 1:
        return None
    a = args[0]
    est = (f"hll_sketch_estimate({a})" if _HLLY.search(a) else
           f"hll_sketch_estimate(hll_sketch_agg("
           f"{_hll_parity_input(a)}, 12))")
    return f"concat('### HLL SKETCH SUMMARY: estimate: ', CAST({est} AS STRING))"


def _ds_quantile_summary(args):
    # DS_QUANTILE_SUMMARY — quantiles-sketch debug summary
    # (DoublesSketch#toString analog): n / min / max lines
    if len(args) != 1:
        return None
    col = _strip_qsk(args[0]) or args[0]
    return (f"concat('### Quantiles sketch summary: n: ', "
            f"CAST(COUNT({col}) AS STRING), "
            f"', min: ', CAST(MIN({col}) AS STRING), "
            f"', max: ', CAST(MAX({col}) AS STRING))")


_TO_UNIT_PERIOD = {
    "SECOND": "PT1S", "MINUTE": "PT1M", "HOUR": "PT1H", "DAY": "P1D",
    "WEEK": "P1W", "MONTH": "P1M", "QUARTER": "P3M", "YEAR": "P1Y",
}


def _floor_ceil_to(target):
    def build(args):
        if len(args) != 1:
            return None
        m = re.match(r"^(.*\S)\s+TO\s+(\w+)$", args[0],
                     re.IGNORECASE | re.DOTALL)
        if not m:
            return None  # numeric FLOOR/CEIL — leave to Spark
        period = _TO_UNIT_PERIOD.get(m.group(2).upper())
        if period is None:
            return None
        return f"{target}({m.group(1)}, '{period}')"
    return build


_EXTRACT_SPECIAL = {"DOW", "ISODOW", "EPOCH", "ISOYEAR", "DECADE",
                    "CENTURY", "MILLENNIUM", "MILLISECOND"}


def _extract_special(args):
    if len(args) != 1:
        return None
    m = re.match(r"(?is)^\s*(\w+)\s+FROM\s+(.*)$", args[0])
    if not m:
        return None
    unit = m.group(1).upper()
    if unit not in _EXTRACT_SPECIAL:
        return None  # identical semantics in Spark's native EXTRACT
    return f"TIME_EXTRACT({m.group(2)}, '{unit}')"


def _time_parse(args):
    if len(args) == 2:
        return f"TO_TIMESTAMP({args[0]}, {args[1]})"
    if len(args) == 3:
        return (f"TO_UTC_TIMESTAMP(TO_TIMESTAMP({args[0]}, {args[1]}), "
                f"{args[2]})")
    return None


def _time_extract_tz(args):
    if len(args) == 3:
        return (f"TIME_EXTRACT(FROM_UTC_TIMESTAMP({args[0]}, {args[2]}), "
                f"{args[1]})")
    return None


_FIXED_PERIOD_MS = {"S": 1000, "M": 60_000, "H": 3_600_000}


def _period_millis(lit: str) -> int | None:
    """Fixed-width ISO-8601 period literal → millis (None for calendar
    periods like P1M/P1Y whose width varies)."""
    s = lit.strip().strip("'")
    m = re.fullmatch(r"PT(\d+)([SMH])", s, re.IGNORECASE)
    if m:
        return int(m.group(1)) * _FIXED_PERIOD_MS[m.group(2).upper()]
    m = re.fullmatch(r"P(\d+)D", s, re.IGNORECASE)
    if m:
        return int(m.group(1)) * 86_400_000
    m = re.fullmatch(r"P(\d+)W", s, re.IGNORECASE)
    if m:
        return int(m.group(1)) * 7 * 86_400_000
    return None


def _time_floor_ceil(name):
    def build(args):
        # 3/4-arg forms: (ts, period, origin[, tz]). A non-null origin
        # anchors the bucket grid at the origin instead of the epoch
        # (TimestampFloorExprMacro origin semantics). Fixed-width
        # periods only — a calendar period with origin fails loudly.
        null_origin = len(args) >= 3 and args[2].upper() in ("NULL", "''")
        if len(args) == 3 and null_origin:
            # legal Druid spelling TIME_FLOOR(ts, period, NULL): same
            # as the 2-arg form (the fixed-arity UDF would choke on
            # the extra arg otherwise)
            return f"{name}({args[0]}, {args[1]})"
        if len(args) == 4 and not null_origin:
            # origin + timezone: localize ts AND origin, recurse to the
            # 3-arg origin arm (rewritten on the next scan pass), shift
            # back — local-wall-clock grid arithmetic, the
            # PeriodGranularity(origin, tz) behavior. Dropping tz here
            # would mis-bucket across DST transitions.
            tz = args[3].strip().strip("'\"")
            if tz not in ("UTC", "Etc/UTC", "+00:00", "Z", ""):
                return (f"TO_UTC_TIMESTAMP({name}(FROM_UTC_TIMESTAMP("
                        f"{args[0]}, {args[3]}), {args[1]}, "
                        f"FROM_UTC_TIMESTAMP(CAST({args[2]} AS "
                        f"TIMESTAMP), {args[3]})), {args[3]})")
        if len(args) in (3, 4) and not null_origin:
            ms = _period_millis(args[1])
            if ms is None:
                return None
            o = f"unix_millis(CAST({args[2]} AS TIMESTAMP))"
            t = f"unix_millis(CAST({args[0]} AS TIMESTAMP))"
            fn = "FLOOR" if name == "TIME_FLOOR" else "CEILING"
            return (f"TIMESTAMP_MILLIS(CAST({o} + "
                    f"{fn}(({t} - {o}) / {ms}.0) * {ms} AS BIGINT))")
        # 4-arg null-origin timezone variant: floor in the local frame
        if len(args) == 4 and null_origin:
            return (f"TO_UTC_TIMESTAMP({name}(FROM_UTC_TIMESTAMP("
                    f"{args[0]}, {args[3]}), {args[1]}), {args[3]})")
        return None
    return build


def _time_shift_tz(args):
    # timezone does not change a fixed-width shift
    if len(args) == 4:
        return f"TIME_SHIFT({args[0]}, {args[1]}, {args[2]})"
    return None


_DATE_TRUNC_PERIOD = {
    "second": "PT1S", "minute": "PT1M", "hour": "PT1H", "day": "P1D",
    "week": "P1W", "month": "P1M", "quarter": "P3M", "year": "P1Y",
}


def _apply_session_tz(sql: str, tz: str) -> str:
    """`SET sqlTimeZone = '<zone>'` — the session default timezone for
    the time-operator family (the reference's PlannerContext timezone
    reaches the TimeFloor/Ceil/Extract/Format operator conversions as
    the default DateTimeZone). Runs BEFORE the fixed-arity TIME_*
    rewrites: tz-less calls gain the session tz as their explicit
    argument, EXTRACT and DATE_TRUNC route through the tz-aware shims.
    Timestamp literals and result rendering stay UTC instants (the
    engine models all time as UTC; the reference renders in the
    session zone — documented divergence)."""
    q = "'" + tz.replace("'", "''") + "'"

    def floor_ceil(name):
        def build(a):
            if len(a) == 2:
                return f"{name}({a[0]}, {a[1]}, NULL, {q})"
            if len(a) == 3:
                return f"{name}({a[0]}, {a[1]}, {a[2]}, {q})"
            return None
        return build

    sql = _rewrite_call(sql, "TIME_FLOOR", floor_ceil("TIME_FLOOR"))
    sql = _rewrite_call(sql, "TIME_CEIL", floor_ceil("TIME_CEIL"))
    sql = _rewrite_call(
        sql, "TIME_EXTRACT",
        lambda a: (f"TIME_EXTRACT({a[0]}, {a[1]}, {q})"
                   if len(a) == 2 else None))
    sql = _rewrite_call(
        sql, "TIME_FORMAT",
        lambda a: (f"TIME_FORMAT({a[0]}, {a[1]}, {q})"
                   if len(a) == 2 else None))

    def extract_build(a):
        if len(a) != 1:
            return None
        m = re.match(r"(?is)^\s*(\w+)\s+FROM\s+(.+)$", a[0])
        if not m:
            return None
        return f"TIME_EXTRACT({m.group(2)}, '{m.group(1).upper()}', {q})"

    sql = _rewrite_call(sql, "EXTRACT", extract_build)

    def date_trunc_build(a):
        if len(a) != 2:
            return None
        p = _DATE_TRUNC_PERIOD.get(a[0].strip().strip("'\"").lower())
        return f"TIME_FLOOR({a[1]}, '{p}', NULL, {q})" if p else None

    return _rewrite_call(sql, "DATE_TRUNC", date_trunc_build)


def _add_default_arg(sql: str, fname: str, default: str) -> str:
    """Append `, default` to calls of `fname` that have exactly one
    top-level argument (SQL UDFs have fixed arity; Druid's 1-arg forms
    imply a default). Balanced-paren scan, any nesting depth,
    quote-aware (commas/parens inside string literals don't count)."""
    pat = re.compile(rf"\b{fname}\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        depth, i, commas = 1, m.end(), 0
        while depth and i < len(sql):
            ch = sql[i]
            if ch in "'\"":
                i = _skip_string(sql, i)
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                commas += 1
            i += 1
        if commas == 0:
            sql = sql[:i - 1] + f", {default})" + sql[i:]
        pos = i


def _iso_millis(lit: str) -> int | None:
    """Epoch millis of a quoted ISO timestamp literal, or None."""
    from datetime import datetime, timezone
    s = lit.strip().strip("'\"").replace("Z", "+00:00")
    for fmt in ("%Y-%m-%dT%H:%M:%S.%f%z", "%Y-%m-%dT%H:%M:%S%z",
                "%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S",
                "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S",
                "%Y-%m-%d"):
        try:
            dt = datetime.strptime(s, fmt)
        except ValueError:
            continue
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)
    return None


def _unnest_elem_semantics(out: str) -> str:
    """Calcite-visible semantics of UNNEST element columns, pinned by
    the qaUnnest goldens (residual class unnest_empty_string_element):

    1. Calcite types the unnest element NOT NULL (DruidUnnestRel's
       output row type), so a null-rejecting MV_*/ARRAY_* call whose
       column refs are all unnest elements is NOT NULL too and its
       `IS [NOT] NULL` folds at PLAN time — even though the runtime
       value IS null for a null MVD element, which the residual
       IS TRUE / IS FALSE arms then drop (mv_sql_mv_funcs A1_B6_C1
       pins 12 rows: the null element never survives via IS NULL).
    2. A comparison of a numeric CAST of the element against a
       timestamp literal simplifies by reverse-casting the literal
       onto the STRING element (RexSimplify on the cast), making it a
       string inequality the '' element PASSES while its SELECT-side
       value stays null (mv_sql_scalar_datetime A1_B10_C1 pins 12
       rows with 3 null cells: millis_to_timestamp(cast('' AS int))
       renders null but `cast('' AS int) <> 946684800000` planned as
       `c <> '946684800000'` keeps the row)."""
    cols = {m.group(1) for m in re.finditer(
        r"(?is)\bUNNEST\s*\(\s*MV_TO_ARRAY\s*\([^()]*\)\s*\)\s*"
        r"AS\s+\w+\s*\(\s*(\w+)\s*\)", out)}
    if not cols:
        return out
    cpat = "|".join(re.escape(c) for c in sorted(cols))
    arg = rf"(?:{cpat}|{_PH}|\d+|ARRAY\s*\[[^\]]*\])"
    # MV_CONTAINS ONLY: its Calcite return type is non-nullable, so
    # the IS NULL arm folds — the sibling goldens pin the OPPOSITE
    # for ARRAY_CONTAINS/ARRAY_OVERLAP (nullable: the null element's
    # null result is KEPT by IS NULL, mv_sql_array_funcs A1_B5/B6_C1
    # 15 rows) and for MV_OVERLAP (mv_overlap(null, null) is TRUE via
    # the [null]-row coercion, mv_sql_mv_funcs A1_B7_C1 15x true)
    call = rf"\bMV_CONTAINS\s*\(\s*(?:{cpat})\s*,\s*{arg}\s*\)"
    out = re.sub(rf"(?is){call}\s+IS\s+NOT\s+NULL(?![\w$])", "TRUE",
                 out)
    out = re.sub(rf"(?is){call}\s+IS\s+NULL(?![\w$])", "FALSE", out)

    # a null ELEMENT makes MV_CONTAINS null (null array LHS,
    # MvContainsFunction null rules); with the IS NULL arm folded
    # above, the null element then fails IS TRUE / IS FALSE and drops
    # (A1_B6_C1's 12 rows)
    def _nullwrap(a):
        if len(a) == 2 and re.fullmatch(rf"(?is)(?:{cpat})",
                                        a[0].strip()):
            return (f"IF({a[0]} IS NULL, CAST(NULL AS BOOLEAN), "
                    f"__MVNWC__({a[0]}, {a[1]}))")
        return None

    out = _rewrite_call(out, "MV_CONTAINS", _nullwrap)
    out = out.replace("__MVNWC__(", "MV_CONTAINS(")

    ctx = _MASK.get()
    if ctx is None:
        return out

    def _jq_root(m):
        lit = ctx.val(m.group(2))
        if lit is None or lit.strip("'\"") not in ("$.", "$"):
            return m.group(0)
        rep = ctx.mask(f"IF({m.group(1)} IS NULL, NULL, "
                       f"CONCAT('\"', {m.group(1)}, '\"'))")
        return rep

    # json_query of a SCALAR at the root path returns the value as
    # quoted JSON text ('' -> '""'), null element -> null (qaUnnest
    # mv_sql_json_funcs A1_B4 pins "1"/"" rows)
    out = re.sub(
        rf"(?is)\bJSON_QUERY\s*\(\s*({cpat})\s*,\s*({_PH})\s*\)",
        _jq_root, out)

    # `elem / long_col`: the reference decides the division's type
    # PER ROW by the string element's parse (tryParseLong first, then
    # double — ExprEval.computeNumber): '1'/2 divides as longs (0),
    # '0.1'/2 as doubles (qaUnnest mv_sql_ops A1_B4 pins the long
    # results). Guard against a preceding same-precedence operator
    # (left-associativity, as in the provably-long chain rewrite).
    _ltypes = {c for c, t in _schema().scalar_types.items()
               if t.split("(")[0].lower() in
               ("bigint", "int", "integer", "smallint", "tinyint",
                "long")}
    if _ltypes:
        _lcp = "|".join(map(re.escape, sorted(_ltypes)))
        _intre = ctx.mask("'^-?[0-9]+$'")

        def _elem_div(m):
            s, i = m.string, m.start() - 1
            while i >= 0 and s[i] in " \t\r\n":
                i -= 1
            if i >= 0 and s[i] in "*/%":
                return m.group(0)
            c, y = m.group(1), m.group(2)
            return (f"(CASE WHEN {c} RLIKE {_intre} THEN "
                    f"CAST({c} AS BIGINT) DIV {y} "
                    f"ELSE CAST({c} AS DOUBLE) / {y} END)")

        out = re.sub(
            rf"(?is)(?<![\w.])({cpat})\s*/\s*({_lcp})(?![\w.])",
            _elem_div, out)

    def _invcast(m):
        lit = ctx.val(m.group(3))
        millis = _iso_millis(lit) if lit else None
        if millis is None:
            return m.group(0)
        rep = ctx.mask(f"'{millis}'")
        return f"CAST({m.group(1)} AS STRING) {m.group(2)} {rep}"

    out = re.sub(
        rf"(?is)\bMILLIS_TO_TIMESTAMP\s*\(\s*CAST\s*\(\s*({cpat})\s+AS"
        rf"\s+(?:INT|INTEGER|BIGINT|SMALLINT)\s*\)\s*\)\s*"
        rf"(<>|!=)\s*({_PH})", _invcast, out)
    return out


def _rewrite_unnest(sql: str) -> str:
    """Druid SQL `CROSS JOIN UNNEST(expr) AS alias(col)` (also
    `AS col`, and the comma-join spelling `FROM t, UNNEST(expr) AS
    u(c)` the quidem qaUnnest corpus uses) → Spark
    `LATERAL VIEW EXPLODE(expr) alias AS col`
    (DruidUnnestRule / UnnestDataSource analog at the SQL layer).
    Balanced-paren scan so nested calls like UNNEST(MV_TO_ARRAY(d))
    rewrite correctly. The comma form only rewrites when followed by
    an AS-alias tail, which FROM-position UNNEST always has."""
    pat = re.compile(r"(?:CROSS\s+JOIN|,)\s*UNNEST\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        depth, i = 1, m.end()
        while depth and i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        raw_inner = sql[m.end():i - 1]
        inner = _inline_array_shims(raw_inner)
        # MVD unnest emits ONE null row for a null MVD (the reference
        # unnests the null row value; qaUnnest mv_sql_col_datatype_mv:
        # 17 rows incl the null/empty rows); plain ARRAY unnest drops
        # null/empty arrays (array_sql_col_datatype: a_empty = 0 rows)
        explode = ("EXPLODE_OUTER" if re.match(
            r"(?is)\s*MV_TO_ARRAY\s*\(", raw_inner) else "EXPLODE")
        tail = re.match(r"\s+AS\s+(\w+)\s*\(\s*(\w+)\s*\)", sql[i:],
                        re.IGNORECASE)
        if tail:
            alias, col = tail.groups()
        else:
            tail = re.match(r"\s+AS\s+(\w+)", sql[i:], re.IGNORECASE)
            if not tail:
                pos = i
                continue
            alias, col = "__unnest", tail.group(1)
        rest = i + tail.end()
        follow = re.match(
            r"\s*(CROSS\s+JOIN|INNER\s+JOIN|"
            r"(?:LEFT|RIGHT|FULL)(?:\s+OUTER)?\s+JOIN|JOIN|,)\s",
            sql[rest:], re.IGNORECASE)
        if follow:
            # Spark's grammar puts plain lateral VIEWS after all
            # from-clause relations, so an unnest followed by further
            # joins (qaUnnest array_sql_join) becomes a LATERAL
            # SUBQUERY — a real joinable relation whose correlation
            # scope is exactly Calcite's (the PRECEDING relations
            # only), the alias stays addressable (ON u.c = ...), and
            # RIGHT/FULL follows keep their join semantics.
            sub = f"(SELECT {explode}({inner}) AS {col}) {alias}"
            if sql[m.start()] == ",":
                rep = f", LATERAL {sub}"
            else:
                rep = f" JOIN LATERAL {sub} ON TRUE"
            sql = sql[:m.start()] + rep + sql[rest:]
            pos = m.start() + len(rep)
        else:
            lv = f" LATERAL VIEW {explode}({inner}) {alias} AS {col}"
            sql = sql[:m.start()] + lv + sql[rest:]
            pos = m.start() + 1


def _java_split(s: str, sep: str) -> str:
    """Java String.split semantics as pure Column SQL: the separator
    is a REGEX (reference StringToArrayFunction, Function.java:3612)
    and trailing empty tokens are trimmed (split('a.b.c','.') = [])."""
    arr = f"SPLIT({s}, COALESCE({sep}, ''))"
    return (f"IF({s} = '', ARRAY(''), "
            f"SLICE({arr}, 1, COALESCE(ARRAY_MAX(TRANSFORM("
            f"SEQUENCE(1, SIZE({arr})), __sti -> "
            f"IF(ELEMENT_AT({arr}, __sti) <> '', __sti, 0))), 0)))")


def _inline_array_shims(inner: str) -> str:
    """Spark disallows SQL UDFs inside Generate — inline the
    array-producing shims (their bodies, from register.py)."""
    inner = re.sub(
        rf"\bSTRING_TO_(?:ARRAY|MV)\s*\(\s*([^,]+?)\s*,\s*"
        rf"('[^']*'|{_PH})\s*\)",
        lambda m: _java_split(m.group(1), m.group(2)), inner,
        flags=re.IGNORECASE)
    return re.sub(r"\b(?:MV_TO_ARRAY|ARRAY_TO_MV)\s*\(", "(", inner,
                  flags=re.IGNORECASE)


def _rewrite_unnest_join(sql: str) -> str:
    """`[INNER|LEFT] JOIN UNNEST(expr) [t] AS u(c) ON cond` (the
    qaUnnest array_sql_join family — an unnest datasource joined on a
    condition, possibly correlated to the left side) → Spark
    `JOIN LATERAL (SELECT EXPLODE(expr) AS c) u ON cond`. Lateral
    correlation handles expr referencing left-side columns; the ON
    condition is left in place untouched. CROSS JOIN spellings are
    left for _rewrite_unnest."""
    pat = re.compile(
        r"\b(CROSS\s+|INNER\s+|LEFT\s+(?:OUTER\s+)?)?JOIN\s+UNNEST\s*\(",
        re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        kind = (m.group(1) or "").strip().upper()
        if kind == "CROSS":
            pos = m.end()
            continue
        depth, i = 1, m.end()
        while depth and i < len(sql):
            if sql[i] in "'\"":
                i = _skip_string(sql, i)
            elif sql[i] in "([":
                depth += 1
            elif sql[i] in ")]":
                depth -= 1
            i += 1
        raw_inner = sql[m.end():i - 1]
        inner = _inline_array_shims(raw_inner)
        explode = ("EXPLODE_OUTER" if re.match(
            r"(?is)\s*MV_TO_ARRAY\s*\(", raw_inner) else "EXPLODE")
        tail = re.match(
            r"\s+(?:(\w+)\s+)?AS\s+(\w+)\s*\(\s*(\w+)\s*\)", sql[i:],
            re.IGNORECASE)
        if tail:
            pre_alias, as_alias, col = tail.groups()
            alias = pre_alias or as_alias
        else:
            tail = re.match(r"\s+AS\s+(\w+)", sql[i:], re.IGNORECASE)
            if not tail:
                pos = i
                continue
            alias, col = "__unnest", tail.group(1)
        joinword = "LEFT JOIN LATERAL" if kind.startswith("LEFT") \
            else "JOIN LATERAL"
        sql = (sql[:m.start()]
               + f"{joinword} (SELECT {explode}({inner}) AS {col}) {alias}"
               + sql[i + tail.end():])
        pos = m.start() + 1


def _rewrite_unnest_from(sql: str) -> str:
    """Standalone table-function form `FROM UNNEST(expr) AS a(c)`
    (qaUnnest's base-less spelling; Calcite's UNNEST table function) →
    `FROM (SELECT EXPLODE(expr) AS c) a`. Runs after _rewrite_unnest,
    which consumed the CROSS JOIN / comma forms."""
    pat = re.compile(r"\bFROM\s+UNNEST\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        depth, i = 1, m.end()
        while depth and i < len(sql):
            if sql[i] in "'\"":
                i = _skip_string(sql, i)
            elif sql[i] in "([":
                depth += 1
            elif sql[i] in ")]":
                depth -= 1
            i += 1
        inner = sql[m.end():i - 1]
        tail = re.match(r"\s+AS\s+(\w+)\s*\(\s*(\w+)\s*\)", sql[i:],
                        re.IGNORECASE)
        if tail:
            alias, col = tail.groups()
        else:
            tail = re.match(r"\s+AS\s+(\w+)", sql[i:], re.IGNORECASE)
            if not tail:
                pos = i
                continue
            alias, col = "__unnest", tail.group(1)
        sql = (sql[:m.start()]
               + f"FROM (SELECT EXPLODE({inner}) AS {col}) {alias}"
               + sql[i + tail.end():])
        pos = m.start() + 1


_JSON_RETURNING_TYPES = {
    "BIGINT": "BIGINT", "INTEGER": "BIGINT", "INT": "BIGINT",
    "DOUBLE": "DOUBLE", "FLOAT": "DOUBLE", "DECIMAL": "DOUBLE",
    "VARCHAR": "STRING", "CHAR": "STRING", "BOOLEAN": "BOOLEAN",
    # timestamps are LONG millis natively: RETURNING timestamp runs
    # the numeric coercion (tryParseLong then tryParse double,
    # ExprEval.computeNumber) and reinterprets as epoch millis — an
    # ISO string is NOT parsed (quidem json.all A11 arithmetic)
    "TIMESTAMP": "TIMESTAMP",
}


def _rewrite_json_returning(sql: str) -> str:
    """JSON_VALUE(expr, path RETURNING type) → CAST(JSON_VALUE(expr,
    path) AS type) (SqlJsonValueFunction RETURNING arms —
    CalciteNestedDataQueryTest testJsonValue* RETURNING matrices).
    Balanced-paren scan, so arbitrarily nested argument expressions
    rewrite correctly."""
    pat = re.compile(r"JSON_VALUE\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        depth, i = 1, m.end()
        while depth and i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        inner = sql[m.end():i - 1]
        # NULL|ERROR ON EMPTY|ERROR options (SqlJsonValueFunction —
        # testJsonValueUnDocumentedButSupportedOptions): the reference
        # accepts and ignores them (missing/error is always null), so
        # strip before matching RETURNING
        stripped = re.sub(r"\s+(?:NULL|ERROR)\s+ON\s+(?:EMPTY|ERROR)",
                          "", inner, flags=re.IGNORECASE)
        # a TIMESTAMP first arg reads as its native-layer long —
        # json_value(__time,'$') = millis string (qaJsonCols
        # funcs_and_sql_func_json_value.01.all.iq A001)
        parts = _top_split(stripped)
        if parts and _is_ts_expr(parts[0]):
            parts[0] = f"CAST(UNIX_MILLIS({parts[0]}) AS STRING)"
            stripped = ", ".join(p.strip() for p in parts)
        m2 = re.search(r"\s+RETURNING\s+([A-Za-z]+)(\s+ARRAY)?\s*$",
                       stripped, re.IGNORECASE)
        if m2:
            t = _JSON_RETURNING_TYPES.get(m2.group(1).upper(), "STRING")
            args = stripped[:m2.start()]
            if m2.group(2):
                # RETURNING <type> ARRAY (SqlJsonValueFunction array
                # arm, the form Druid pairs with UNNEST): pure
                # builtins (not the JSON_QUERY_ARRAY SQL UDF) so the
                # result is legal inside Generate/explode
                rep = (f"FROM_JSON(GET_JSON_OBJECT({args}), "
                       f"'array<{t.lower()}>')")
                if t == "BOOLEAN":
                    # Druid has no BOOLEAN storage type: a boolean
                    # array reads back as ARRAY<LONG> 1/0 (qaArray
                    # ingest_* RETURNING boolean array vs a_bool)
                    rep = f"CAST({rep} AS ARRAY<BIGINT>)"
                # json_value is PRIMITIVE-array-only (JsonValueExprMacro
                # isPrimitiveArray): a nested array/object element at
                # the path nulls the whole result (qaArray mv_funcs
                # RETURNING varchar array of $[7])
                rep = (f"CASE WHEN EXISTS(FROM_JSON(GET_JSON_OBJECT("
                       f"{args}), 'array<string>'), __jvx -> "
                       f"JSON_OBJECT_KEYS(__jvx) IS NOT NULL OR "
                       f"JSON_ARRAY_LENGTH(__jvx) IS NOT NULL) "
                       f"THEN NULL ELSE {rep} END")
            elif t == "TIMESTAMP":
                # numeric-coercion millis, not ISO parsing (Spark's
                # CAST(string AS TIMESTAMP) would parse ISO instead)
                rep = (f"TIMESTAMP_MILLIS(CAST(CAST(JSON_VALUE("
                       f"{args}) AS DOUBLE) AS BIGINT))")
            else:
                rep = f"CAST(JSON_VALUE({args}) AS {t})"
            sql = sql[:m.start()] + rep + sql[i:]
            # re-scan from the replacement start: the args may carry
            # their own nested RETURNING calls (each pass removes one
            # RETURNING, so this terminates)
            pos = m.start()
        elif stripped != inner:
            rep = f"JSON_VALUE({stripped})"
            sql = sql[:m.start()] + rep + sql[i:]
            # resume INSIDE the rewritten args: a nested
            # json_value(... RETURNING ...) argument still needs its
            # own rewrite (stripping is idempotent, so the re-match of
            # this call falls through to the else arm)
            pos = m.start() + len("JSON_VALUE(")
        else:
            # no terminal RETURNING on THIS call — but an argument may
            # be a nested json_value(... RETURNING ...) (qaArray
            # ops_funcs_json_funcs nested forms): scan the args too
            pos = m.end()


def _dq_idents_to_backticks(sql: str) -> str:
    """Calcite double-quoted identifiers → Spark backticks. Druid SQL
    (like ANSI) quotes identifiers with double quotes and strings with
    single quotes (sql/calcite/planner/DruidPlanner lexing); Spark uses
    backticks and reserves double quotes for strings unless ANSI
    doubleQuotedIdentifiers is on (it isn't — we run ANSI off). Scans
    character-wise so double quotes inside single-quoted string
    literals survive; "" inside an identifier is an escaped quote."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":  # string literal: copy through, '' escapes
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif ch == '"':
            j = i + 1
            ident = []
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        ident.append('"')
                        j += 2
                        continue
                    break
                ident.append(sql[j])
                j += 1
            out.append("`" + "".join(ident).replace("`", "``") + "`")
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def rewrite_druid_sql(sql: str, exact: bool = True,
                      tz: str = "UTC",
                      schema: SqlSchema = SqlSchema(),
                      default_nominal_entries: int | None = None,
                      hllc_parity: bool = False,
                      filtered_sum_rewrite: bool = True,
                      unnest_filter_collapse: bool = False,
                      strict_window_frames: bool = False) -> str:
    """Rewrite one Druid SQL statement to Spark SQL. schema: the
    calling engine's column hints (the default knows no columns); the
    remaining keywords are the statement flags documented on
    _RewriteCtx. default_nominal_entries None = exact unbounded sketch
    state — required by the DuckDB-differential harnesses and exact
    engines."""
    tok = _CTX.set(_RewriteCtx(
        schema, default_nominal_entries, hllc_parity,
        filtered_sum_rewrite, unnest_filter_collapse,
        strict_window_frames))
    try:
        return _rewrite_druid_sql(sql, exact, tz)
    finally:
        _CTX.reset(tok)


def _find_spec_end(sql: str, start: int) -> int:
    """Index of the ')' closing the paren opened just before start."""
    depth, i = 1, start
    while depth and i < len(sql):
        ch = sql[i]
        if ch in "'\"":
            i = _skip_string(sql, i)
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return len(sql)


def _inject_window_order(sql: str) -> str:
    """Druid SQL allows ranking functions over windows with no ORDER BY
    (ROW_NUMBER() OVER (), drill druid_queries/empty_over_clause);
    Spark requires window ordering. Inject `ORDER BY true` into every
    OVER (...) spec and WINDOW ... AS (...) definition that lacks one:
    a constant ordering makes every row a peer, so aggregate default
    RANGE frames still cover the whole partition (semantics unchanged)
    and ranking functions number in arbitrary order — exactly Druid's
    contract for an unordered window. Bare named-window references
    (`OVER w`, `OVER (w)`) are left alone; the definition site gets
    the injection."""
    out = []
    last = 0
    for m in re.finditer(
            r"(?is)(?:\bOVER\s*\(|\bWINDOW\s+\w+\s+AS\s*\(|,\s*\w+\s+AS\s*\()",
            sql):
        start = m.end()
        # ", name AS (" only counts inside a WINDOW list — approximate
        # by requiring a WINDOW keyword earlier in the statement
        if m.group(0).lstrip().startswith(",") and \
                not re.search(r"(?is)\bWINDOW\b", sql[:m.start()]):
            continue
        end = _find_spec_end(sql, start)
        spec = sql[start:end]
        # a CTE body also matches ", name AS (" — never a window spec
        if re.match(r"(?is)^\s*(?:SELECT|VALUES|WITH|TABLE)\b", spec):
            continue
        if re.fullmatch(r"\s*\w*\s*", spec):  # empty or named ref
            if not spec.strip():
                out.append(sql[last:start] + "ORDER BY true")
                last = start
            continue
        # depth-0 ORDER BY check within the spec
        depth, i, has_order, frame_at = 0, 0, False, None
        up = spec.upper()
        while i < len(up):
            ch = up[i]
            if ch == "'":
                # _skip_string returns the CLOSING quote's index; step
                # past it or the closer re-reads as an opener and the
                # text between literals scans as inside-string
                i = _skip_string(up, i) + 1
                continue
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif depth == 0 and re.match(r"ORDER\s+BY\b", up[i:]):
                has_order = True
                break
            elif depth == 0 and frame_at is None and re.match(
                    r"(?:ROWS|RANGE|GROUPS)\b", up[i:]):
                frame_at = i
            i += 1
        if not has_order:
            at = frame_at if frame_at is not None else len(spec)
            out.append(sql[last:start] + spec[:at].rstrip()
                       + " ORDER BY true " + spec[at:])
            last = end
    out.append(sql[last:])
    return "".join(out)


_FRAME_BOUND = (r"UNBOUNDED\s+PRECEDING|UNBOUNDED\s+FOLLOWING|"
                r"CURRENT\s+ROW|\d+\s+PRECEDING|\d+\s+FOLLOWING")


def _bound_offset(b: str) -> float:
    b = re.sub(r"\s+", " ", b.strip().upper())
    if b == "CURRENT ROW":
        return 0
    if b == "UNBOUNDED PRECEDING":
        return float("-inf")
    if b == "UNBOUNDED FOLLOWING":
        return float("inf")
    n = int(b.split()[0])
    return -n if b.endswith("PRECEDING") else n


def _normalize_window_frames(sql: str) -> str:
    """Two Calcite frame behaviors Spark rejects (qaWin orderby_rows_*
    corpora; Calcite SqlWindow.create + Druid WindowFrame):

    1. Shorthand `ROWS <X> FOLLOWING` means BETWEEN CURRENT ROW AND
       <X> FOLLOWING (Calcite swaps a FOLLOWING shorthand to the upper
       bound); Spark reads it as the lower bound and errors (or
       silently computes an empty frame).
    2. An explicitly REVERSED frame (`ROWS BETWEEN 0 PRECEDING AND 1
       PRECEDING`) is legal in Druid and always-empty: aggregates
       yield NULL, COUNT yields 0.  Spark rejects it at analysis, so
       every windowed call over such a frame folds to its constant.
    """
    masked, lits = _mask_local(sql)
    masked = re.sub(
        r"(?is)\b(ROWS|RANGE|GROUPS)\s+(UNBOUNDED\s+FOLLOWING|"
        r"\d+\s+FOLLOWING)\b",
        lambda m: f"{m.group(1)} BETWEEN CURRENT ROW AND {m.group(2)}",
        masked)

    frame_pat = re.compile(
        r"(?is)\b(ROWS|RANGE|GROUPS)\s+BETWEEN\s+(" + _FRAME_BOUND +
        r")\s+AND\s+(" + _FRAME_BOUND + r")")

    def _reversed_in(spec: str) -> bool:
        for fm in frame_pat.finditer(spec):
            if _bound_offset(fm.group(2)) > _bound_offset(fm.group(3)):
                return True
        return False

    # named WINDOW definitions with a reversed frame: neutralize the
    # definition (so Spark can parse it) and remember the name — every
    # `fn(..) OVER name` reference folds to its empty-frame constant
    dead_windows: set[str] = set()
    win_def = re.compile(r"(?is)(\bWINDOW\s+|,\s*)(\w+)\s+AS\s*\(")
    pos = 0
    while True:
        # restart-style scan: each substitution changes lengths, so a
        # finditer over the pre-substitution string would splice with
        # stale indices when 2+ named windows carry reversed frames
        wm = win_def.search(masked, pos)
        if not wm:
            break
        # a comma continuation only counts inside a WINDOW list (a CTE
        # list also matches ", name AS (")
        if wm.group(1).strip() == "," and not re.search(
                r"(?is)\bWINDOW\b", masked[:wm.start()]):
            pos = wm.end()
            continue
        end = _find_spec_end(masked, wm.end())
        spec = masked[wm.end():end]
        if _reversed_in(spec):
            dead_windows.add(wm.group(2).upper())
            new_spec = frame_pat.sub(
                "ROWS BETWEEN CURRENT ROW AND CURRENT ROW", spec)
            masked = masked[:wm.end()] + new_spec + masked[end:]
            pos = wm.end() + len(new_spec)
        else:
            pos = end

    def _fold_call(s: str, call_start: int, over_end: int) -> str:
        """Replace fn(args)...OVER<spec> span with the empty-frame
        constant.  MIN/MAX/FIRST_VALUE/LAG etc. must fold to a NULL
        of the OPERAND's type (an untyped STRING null changed result
        schemas and broke type unification in surrounding arithmetic
        / UNION branches): CASE WHEN 1<>1 THEN (arg) END is NULL typed
        as the argument without evaluating the window."""
        mfn = re.match(r"\w+", s[call_start:])
        fn = mfn.group(0).upper()
        if fn == "COUNT":
            const = "0"
        elif fn in ("SUM", "AVG", "VARIANCE", "VAR_POP", "VAR_SAMP",
                    "STDDEV", "STDDEV_POP", "STDDEV_SAMP"):
            const = "CAST(NULL AS DOUBLE)"
        else:
            paren = call_start + mfn.end()
            while paren < len(s) and s[paren].isspace():
                paren += 1
            first = ""
            if paren < len(s) and s[paren] == "(":
                args_end = _find_spec_end(s, paren + 1)
                args = s[paren + 1:args_end]
                depth = 0
                cut = len(args)
                for i, ch in enumerate(args):
                    if ch in "([":
                        depth += 1
                    elif ch in ")]":
                        depth -= 1
                    elif ch == "," and depth == 0:
                        cut = i
                        break
                first = re.sub(r"(?is)\s+(?:IGNORE|RESPECT)\s+NULLS\s*$",
                               "", args[:cut].strip())
            const = (f"CASE WHEN 1<>1 THEN ({first}) END"
                     if first and first != "*" else "NULL")
        return s[:call_start] + const + s[over_end:]

    def _call_start(s: str, over_at: int) -> int | None:
        """Scan back from ' OVER' to the start of the windowed call."""
        j = over_at - 1
        while j >= 0 and s[j].isspace():
            j -= 1
        if j < 0 or s[j] != ")":
            return None
        depth = 0
        while j >= 0:
            if s[j] == ")":
                depth += 1
            elif s[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        j -= 1
        while j >= 0 and (s[j].isalnum() or s[j] == "_"):
            j -= 1
        return j + 1

    # inline OVER (...) specs with a reversed frame + OVER <name> refs
    changed = True
    while changed:
        changed = False
        for om in re.finditer(r"(?is)\bOVER\s*(\(|\w+)", masked):
            if om.group(1) == "(":
                end = _find_spec_end(masked, om.end())
                spec = masked[om.end():end]
                ref = spec.strip().upper()
                if not (_reversed_in(spec) or ref in dead_windows):
                    continue
                cs = _call_start(masked, om.start())
                if cs is None:
                    continue
                masked = _fold_call(masked, cs, end + 1)
                changed = True
                break
            if om.group(1).upper() in dead_windows:
                cs = _call_start(masked, om.start())
                if cs is None:
                    continue
                masked = _fold_call(masked, cs, om.end())
                changed = True
                break
    return _unmask_local(masked, lits)


def _firstlast_unordered_frames(sql: str) -> str:
    """FIRST_VALUE / LAST_VALUE over a window with NO ORDER BY read
    the whole partition in the reference regardless of any explicit
    frame (Windowing.java:98 maps them to WindowFirstProcessor /
    WindowLastProcessor — frame-less, partition row 0 / row N; with
    no ordering the partition IS the frame; qaWin
    orderby_rows_current_first_last goldens pin it).  Rewrite such
    calls to an explicit unbounded frame; ordered windows keep
    standard frame semantics (drill corpus + qaWin ordered goldens
    match Spark's)."""
    masked, lits = _mask_local(sql)

    def _spec_unordered(spec: str) -> bool:
        depth = i = 0
        while i < len(spec):
            ch = spec[i]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif depth == 0 and re.match(r"(?i)ORDER\s+BY", spec[i:]):
                return False
            i += 1
        return True

    named = {}
    for wm in re.finditer(r"(?is)\bWINDOW\s+(\w+)\s+AS\s*\(", masked):
        end = _find_spec_end(masked, wm.end())
        named[wm.group(1).upper()] = masked[wm.end():end]

    out = masked
    pos = 0
    while True:
        m = re.search(r"(?is)\b(FIRST_VALUE|LAST_VALUE)\s*\(", out[pos:])
        if not m:
            break
        call_start = pos + m.start()
        args_end = _find_spec_end(out, pos + m.end())
        om = re.match(r"(?is)\s*OVER\s*(\(|\w+)", out[args_end + 1:])
        if not om:
            pos = args_end + 1
            continue
        if om.group(1) == "(":
            spec_start = args_end + 1 + om.end()
            spec_end = _find_spec_end(out, spec_start)
            spec = out[spec_start:spec_end]
            over_span = (args_end + 1 + om.start(), spec_end + 1)
        else:
            spec = named.get(om.group(1).upper(), "ORDER BY")
            over_span = (args_end + 1 + om.start(), args_end + 1 + om.end())
        if _spec_unordered(spec):
            # strip any explicit frame, pin the unbounded one
            base = re.split(r"(?i)\b(?:ROWS|RANGE|GROUPS)\b", spec)[0]
            new = (f" OVER ({base.strip()} ROWS BETWEEN UNBOUNDED "
                   f"PRECEDING AND UNBOUNDED FOLLOWING)")
            out = out[:over_span[0]] + new + out[over_span[1]:]
            pos = over_span[0] + len(new)
        else:
            pos = args_end + 1
    return _unmask_local(out, lits)


def _coerce_array_comparisons(sql: str) -> str:
    """Cross-type ARRAY comparisons: Calcite coerces the operands to a
    leastRestrictive array type (ARRAY<LONG> vs ARRAY<STRING> compares
    element-wise as strings; Druid has no boolean arrays — they're
    long 1/0), while Spark raises DATATYPE_MISMATCH.BINARY_OP_DIFF_
    TYPES (qaArray/qaMultiValue `a_col <> ARRAY['FILLER']` guard
    batteries). Using the catalog's unambiguous array-column element
    types, wrap mismatched sides: boolean→ARRAY<INT> (Druid's long
    render of booleans), then numeric-vs-string → both ARRAY<STRING>.
    Only fires when at least one side is a KNOWN array column — plain
    scalar comparisons never match."""
    elems = _schema().array_elem
    if not elems:
        return sql
    masked, lits = _mask_local(sql)
    num = {"tinyint", "smallint", "int", "bigint", "float", "double",
           "decimal", "long", "integer"}

    def cls_of(tok: str) -> str | None:
        tok = tok.strip()
        m = re.fullmatch(r"(?is)ARRAY\[(.*)\]", tok)
        if m:
            first = m.group(1).split(",")[0].strip()
            if not first:
                return None
            # masked placeholder or raw quoted literal (builders see
            # unmasked args)
            if first.startswith("\x00") or first.startswith("'"):
                return "string"
            if re.fullmatch(r"(?i)TRUE|FALSE", first):
                return "boolean"
            if re.match(r"[-+0-9.]", first):
                return "numeric"
            return None
        t = elems.get(tok.rsplit(".", 1)[-1])
        if t is None:
            return None
        t = t.lower().split("(")[0]
        if t == "boolean":
            return "boolean"
        if t in ("string", "varchar", "char"):
            return "string"
        if t in num:
            return "numeric"
        return None

    def wrap(tok: str, cls: str, target: str) -> str:
        if cls == target:
            return tok
        if cls == "boolean" and target == "numeric":
            return f"CAST({tok} AS ARRAY<INT>)"
        if cls == "boolean":
            return f"CAST(CAST({tok} AS ARRAY<INT>) AS ARRAY<STRING>)"
        return f"CAST({tok} AS ARRAY<STRING>)"

    pat = re.compile(
        r"(?is)(ARRAY\[[^\]]*\]|\b(?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s*"
        r"(<=|>=|<>|!=|=|<|>)\s*"
        r"(ARRAY\[[^\]]*\]|\b(?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)")

    def sub(m):
        l, op, r = m.group(1), m.group(2), m.group(3)
        # catalog keys are bare column names; qualified refs (t.col)
        # key on the last segment but wrap the full reference
        if l.strip().rsplit(".", 1)[-1] not in elems and \
                r.strip().rsplit(".", 1)[-1] not in elems:
            return m.group(0)
        lc, rc = cls_of(l), cls_of(r)
        if lc is None or rc is None or lc == rc:
            return m.group(0)
        target = "string" if "string" in (lc, rc) else "numeric"
        return f"{wrap(l, lc, target)} {op} {wrap(r, rc, target)}"

    masked = pat.sub(sub, masked)

    # CASE-simple over an array column (CASE a_empty WHEN
    # ARRAY['FILLER'] THEN ...) — Spark expands to the same strict
    # equality; coerce through the searched form (qaArray
    # ops_funcs_scalar_funcs A9_B2_C16). Single-WHEN shape only.
    def sub_case(m):
        subj, val = m.group(1), m.group(2)
        if subj.strip().rsplit(".", 1)[-1] not in elems:
            return m.group(0)
        sc, vc = cls_of(subj), cls_of(val)
        if sc is None or vc is None or sc == vc:
            return m.group(0)
        target = "string" if "string" in (sc, vc) else "numeric"
        return (f"CASE WHEN {wrap(subj, sc, target)} = "
                f"{wrap(val, vc, target)} THEN")

    masked = re.sub(
        r"(?is)\bCASE\s+((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s+WHEN\s+"
        r"(ARRAY\[[^\]]*\])\s+THEN", sub_case, masked)

    # NULLIF over mismatched array types keeps the FIRST argument's
    # type while comparing through the coerced form (qaArray
    # ops_funcs_scalar_funcs A9_B4_C16: nullif(a_empty,
    # ARRAY['FILLER']) = [])
    def _nullif_arrays(a):
        if len(a) != 2:
            return None
        lc, rc = cls_of(a[0]), cls_of(a[1])
        if lc is None or rc is None or lc == rc:
            return None
        if (a[0].strip().rsplit(".", 1)[-1] not in elems
                and a[1].strip().rsplit(".", 1)[-1] not in elems):
            return None
        target = "string" if "string" in (lc, rc) else "numeric"
        return (f"IF({wrap(a[0], lc, target)} = "
                f"{wrap(a[1], rc, target)}, NULL, {a[0]})")

    masked = _rewrite_call(masked, "NULLIF", _nullif_arrays)
    return _unmask_local(masked, lits)


def _windowed_order_by(sql: str) -> str:
    """A window function in ORDER BY (Calcite allows `ORDER BY
    NTILE(2) OVER (...)` — drill ntile_func/ntileFn_33) is rejected by
    Spark's analyzer. Rewrite the top-level query to project the
    windowed sort keys in a subquery:
    SELECT sl FROM rest ORDER BY w, x →
    SELECT sl FROM (SELECT *, w AS __word0 FROM rest) __woq
    ORDER BY __word0, x.
    Conservative: only fires for a top-level non-grouped SELECT whose
    final ORDER BY carries an OVER."""
    masked, lits = _mask_local(sql)
    m = re.match(r"(?is)^\s*SELECT\s+(.*)$", masked)
    if not m:
        return sql
    # locate the LAST top-level ORDER BY
    depth = 0
    ob_at = -1
    i = 0
    while i < len(masked):
        ch = masked[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            if re.match(r"(?i)ORDER\s+BY\b", masked[i:]) and not (
                    i > 0 and (masked[i - 1].isalnum()
                               or masked[i - 1] == "_")):
                ob_at = i
        i += 1
    if ob_at < 0:
        return sql
    tail = masked[ob_at:]
    mm = re.match(r"(?is)ORDER\s+BY\s+(.*?)(\s+LIMIT\s+.*|\s+OFFSET\s+"
                  r".*)?$", tail)
    if not mm or not re.search(r"(?i)\bOVER\b", mm.group(1)):
        return sql
    head = masked[:ob_at]
    if re.search(r"(?is)\b(GROUP\s+BY|HAVING|UNION|EXCEPT|INTERSECT)\b",
                 _strip_parens_depth0(head)):
        return sql
    fm = None
    depth = 0
    for j in range(len(head)):
        ch = head[j]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and re.match(r"(?i)\bFROM\b", head[j:]) \
                and not (j > 0 and (head[j - 1].isalnum()
                                    or head[j - 1] == "_")):
            fm = j
            break
    if fm is None:
        return sql
    # select-list start from the SELECT match itself (leading
    # whitespace / multi-line queries shift it past 7 chars)
    select_list = head[m.start(1):fm]
    rest = head[fm + 4:]
    items = []
    win_proj = []
    depth = 0
    start = 0
    s = mm.group(1)
    for j, ch in enumerate(s + ","):
        if j < len(s) and ch in "([":
            depth += 1
        elif j < len(s) and ch in ")]":
            depth -= 1
        elif (j == len(s) or ch == ",") and depth == 0:
            items.append(s[start:j].strip())
            start = j + 1
    out_items = []
    for it in items:
        if re.search(r"(?i)\bOVER\b", it):
            dirm = re.search(r"(?is)\s+(ASC|DESC)(\s+NULLS\s+"
                             r"(FIRST|LAST))?\s*$", it)
            expr = it[:dirm.start()] if dirm else it
            suffix = it[dirm.start():] if dirm else ""
            k = len(win_proj)
            win_proj.append(f"{expr} AS __word{k}")
            out_items.append(f"__word{k}{suffix}")
        else:
            out_items.append(it)
    limit_tail = mm.group(2) or ""
    new = (f"SELECT {select_list} FROM (SELECT *, "
           f"{', '.join(win_proj)} FROM {rest}) __woq "
           f"ORDER BY {', '.join(out_items)}{limit_tail}")
    return _unmask_local(new, lits)


def _strip_parens_depth0(s: str) -> str:
    """Text with parenthesized spans removed (for depth-0 keyword
    checks)."""
    out = []
    depth = 0
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            out.append(ch)
    return "".join(out)


def _parenthesize_in_is(sql: str) -> str:
    """`x IN (list) IS [NOT] TRUE|FALSE` parses in Calcite but not in
    Spark (IN binds looser than IS there) — wrap the IN predicate:
    `(x IN (list)) IS TRUE` (qaUnnest subquery_with_where corpus).
    Runs on masked text: the back-scan counts parens, and a string
    literal containing ')' inside the IN list (x IN ('a)', 'b'))
    would miscount depth and wrap the wrong span."""
    sql, _lits = _mask_local(sql)
    pat = re.compile(r"(?is)\)\s*IS\s+(?:NOT\s+)?(?:TRUE|FALSE)\b")
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return _unmask_local(sql, _lits)
        close = m.start()
        depth, j = 0, close
        while j >= 0:
            if sql[j] == ")":
                depth += 1
            elif sql[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        k = j - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        m2 = re.search(r"(?is)(\bNOT\s+)?\bIN$", sql[:k + 1])
        if not m2:
            pos = m.end()
            continue
        k2 = m2.start() - 1
        while k2 >= 0 and sql[k2].isspace():
            k2 -= 1
        if k2 >= 0 and sql[k2] == ")":  # call operand: f(args) IN (...)
            depth, j2 = 0, k2
            while j2 >= 0:
                if sql[j2] == ")":
                    depth += 1
                elif sql[j2] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j2 -= 1
            j2 -= 1
            while j2 >= 0 and (sql[j2].isalnum() or sql[j2] in "_."):
                j2 -= 1
            start = j2 + 1
        else:
            j2 = k2
            # \x00 admits masked string-literal placeholders as operands
            while j2 >= 0 and (sql[j2].isalnum() or sql[j2] in "_.\x00"):
                j2 -= 1
            start = j2 + 1
        sql = sql[:start] + "(" + sql[start:close + 1] + ")" + \
            sql[close + 1:]
        pos = m.end() + 2


def _scan_top_kw(sql: str, kws: list[str]) -> dict[str, int]:
    """Positions of the FIRST depth-0, outside-string occurrence of
    each keyword phrase (raw text; quote-aware)."""
    out: dict[str, int] = {}
    pats = [(k, re.compile(r"(?is)\b" + r"\s+".join(k.split()) + r"\b"))
            for k in kws]
    depth = 0
    i = 0
    while i < len(sql):
        ch = sql[i]
        if ch in "'\"":
            i = _skip_string(sql, i) + 1
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and ch.isalpha() and (
                i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")):
            for k, pat in pats:
                if k not in out and pat.match(sql, i):
                    out[k] = i
                    break
        i += 1
    return out


def _grouping_sets_window(sql: str) -> str:
    """GROUPING SETS / ROLLUP / CUBE combined with window functions:
    Calcite evaluates the windows over the grouped output (qaWin
    sql_group_by A2/A3 batteries), while Spark's analyzer raises
    MISSING_AGGREGATION for grouping columns referenced inside OVER.
    Rewrite to a pre-aggregated subquery: the grouping exprs project
    out (simple columns by name, complex exprs as __gswN aliases),
    GROUP BY + HAVING stay inner, the windowed select + WINDOW clause
    move outside with each complex grouping expr text replaced by its
    alias. Runs on RAW text before the mask-once pass (the same
    literal appears in several clauses and must compare equal)."""
    if not re.search(r"(?is)\bGROUP\s+BY\s+"
                     r"(GROUPING\s+SETS|ROLLUP|CUBE)\s*\(", sql):
        return sql
    if not re.search(r"(?i)\bOVER\b", sql):
        return sql
    m0 = re.match(r"(?is)^\s*SELECT\s+", sql)
    if not m0:
        return sql
    kw = _scan_top_kw(sql, ["FROM", "WHERE", "GROUP BY", "HAVING",
                            "WINDOW", "ORDER BY", "LIMIT", "OFFSET",
                            "UNION", "INTERSECT", "EXCEPT"])
    if any(k in kw for k in ("UNION", "INTERSECT", "EXCEPT")):
        return sql
    if "FROM" not in kw or "GROUP BY" not in kw:
        return sql
    end = len(sql)
    tail_at = min((kw[k] for k in ("ORDER BY", "LIMIT", "OFFSET")
                   if k in kw), default=end)
    win_at = kw.get("WINDOW", tail_at)
    hav_at = kw.get("HAVING", win_at)
    sel = sql[m0.end():kw["FROM"]].strip()
    where_at = kw.get("WHERE", kw["GROUP BY"])
    from_part = sql[kw["FROM"] + 4:where_at].strip()
    where = (sql[where_at + 5:kw["GROUP BY"]].strip()
             if "WHERE" in kw else "")
    gb = sql[kw["GROUP BY"] + len("GROUP BY"):hav_at].strip()
    having = (sql[hav_at + 6:win_at].strip() if "HAVING" in kw else "")
    winc = (sql[win_at + 6:tail_at].strip() if "WINDOW" in kw else "")
    tail = sql[tail_at:].strip()
    gm = re.match(r"(?is)^(GROUPING\s+SETS|ROLLUP|CUBE)\s*\(", gb)
    if not gm:
        return sql
    inner_args = gb[gm.end():gb.rindex(")")]
    # top-level comma split (quote/paren-aware), flattening tuples
    exprs: list[str] = []
    depth = 0
    start = 0
    i = 0
    while i <= len(inner_args):
        ch = inner_args[i] if i < len(inner_args) else ","
        if i < len(inner_args) and ch in "'\"":
            i = _skip_string(inner_args, i) + 1
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            e = inner_args[start:i].strip()
            if e.startswith("(") and e.endswith(")"):
                exprs.extend(x.strip() for x in
                             _top_split(e[1:-1]) if x.strip())
            elif e:
                exprs.append(e)
            start = i + 1
        i += 1
    if not exprs:
        return sql
    # dedupe, keep order
    seen = set()
    exprs = [e for e in exprs
             if not (e.upper() in seen or seen.add(e.upper()))]
    inner_sel = []
    repl: list[tuple[str, str]] = []   # (expr_text, alias)
    for n, e in enumerate(exprs):
        if re.fullmatch(r"[A-Za-z_][\w.]*", e):
            inner_sel.append(e)
        else:
            inner_sel.append(f"{e} AS __gsw{n}")
            repl.append((e, f"__gsw{n}"))
    def sub_aliases(text: str) -> str:
        for e, a in sorted(repl, key=lambda p: -len(p[0])):
            pat = r"\s*".join(re.escape(tok) for tok in
                              re.split(r"(\s+)", e) if tok.strip())
            text = re.sub(pat, a, text, flags=re.IGNORECASE)
        return text
    inner = (f"SELECT {', '.join(inner_sel)} FROM {from_part}"
             + (f" WHERE {where}" if where else "")
             + f" GROUP BY {gb}"
             + (f" HAVING {having}" if having else ""))
    out = (f"SELECT {sub_aliases(sel)} FROM ({inner}) __gsw"
           + (f" WINDOW {sub_aliases(winc)}" if winc else "")
           + (f" {sub_aliases(tail)}" if tail else ""))
    return out


def _rewrite_druid_sql(sql: str, exact: bool = True,
                       tz: str = "UTC") -> str:
    out = sql
    # STEP 0 — Calcite string-literal semantics: Druid SQL literals
    # are NOT backslash-escaping ('' is the only escape, standard
    # SQL), while Spark's parser processes backslashes by default
    # (escapedStringLiterals=false). Double every backslash inside
    # incoming literals so the VALUE Spark sees equals the text the
    # user wrote — regexp_like(x, '110\|') must test a literal pipe,
    # not the alternation the stripped backslash produced (qaAggFuncs
    # string_agg regex batteries). Internal rewrites run after this
    # and emit Spark-escaped literals knowingly.
    if "\\" in out:
        # literal-VALUE rewrite (not a boundary guard): needs its own
        # store — runs before the _MaskCtx below exists
        masked0, lits0 = _mask_strings(out)
        lits0 = {k: v.replace("\\", "\\\\") for k, v in lits0.items()}
        out = _unmask_strings(masked0, lits0)
    if '"' in out:
        out = _dq_idents_to_backticks(out)
    out = _grouping_sets_window(out)
    # MASK ONCE: user string literals tokenize to placeholders here
    # and stay masked through every rewrite pass below — no pass can
    # fire inside user literal content. Builders receive unmasked
    # args via _rewrite_call; the final return restores everything.
    ctx = _MaskCtx(out)
    out = ctx.text
    tok_mask = _MASK.set(ctx)
    try:
        out = _rewrite_druid_sql_masked(out, exact, tz)
    finally:
        _MASK.reset(tok_mask)
    return ctx.unmask(out)


def _statement_aliases(out: str) -> set[str]:
    """Lowercased identifiers bound by `AS <ident>` anywhere in the
    statement, EXCLUDING CAST/TRY_CAST type positions — `CAST(x AS
    INT)` binds no alias, and counting it would suppress rejection
    guards for any column named like a type."""
    cast_as = set()
    for cm in re.finditer(r"(?is)\b(?:TRY_)?CAST\s*\(", out):
        end = _find_spec_end(out, cm.end())
        i, depth = cm.end(), 1
        while i < end:
            ch = out[i]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif (depth == 1 and out[i:i + 2].upper() == "AS"
                    and not (out[i - 1].isalnum() or out[i - 1] in "_.")
                    and (i + 2 >= len(out)
                         or not (out[i + 2].isalnum()
                                 or out[i + 2] in "_."))):
                cast_as.add(i)
            i += 1
    return {m.group(1).lower() for m in
            re.finditer(r"(?is)\bAS\s+([A-Za-z_]\w*)", out)
            if m.start() not in cast_as}


def _decoupled_unnest_filter_collapse(out: str) -> str:
    """Opt-in reproduction of the reference's decoupled-planner unnest
    naming collision (context.decoupledUnnestFilterCollapse, default
    off; pinned by DecoupledPlanningCalciteArraysQueryTest
    testUnnestThriceWithFiltersOnDimAndAllUnnestColumns[ArrayColumns]).

    For a CHAIN of 3+ nested FROM-comma UNNESTs whose WHERE carries a
    top-level equality conjunct on EVERY unnest output column, the
    reference's planner names every non-outermost unnest's virtual
    column "j0.unnest" (DruidUnnestRule.java prefix derivation;
    proc/query/UnnestDataSource.java:44 — only the outermost gets
    "_j0.unnest"), so each middle unnest's pushed-down equality lands
    on the FIRST unnest's same-named output: contradictory constants
    AND to zero rows even though the data matches. Model the collision
    by injecting `first_col = middle_value` for each middle unnest.
    OR-combined filters stay a LogicalFilter ABOVE the unnests in the
    reference (the ...OrFilters sibling golden, 5 rows) and do not
    match this shape, so they are untouched."""
    # FROM-position unnest output columns with their paren depth
    unnests: list[tuple[int, str]] = []
    depth = i = 0
    pat = re.compile(r"(?is)UNNEST\s*\(")
    while i < len(out):
        m = pat.match(out, i)
        if m and (i == 0 or not (out[i - 1].isalnum()
                                 or out[i - 1] in "_.")):
            close = _find_spec_end(out, m.end())
            am = re.match(r"(?is)\s*AS\s+\w+\s*\(\s*(\w+)\s*\)",
                          out[close + 1:])
            if am:
                unnests.append((depth, am.group(1)))
            i = close + 1
            continue
        ch = out[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        i += 1
    if len(unnests) < 3:
        return out
    # strictly-nested chain: textual innermost->outermost
    if not all(unnests[k][0] > unnests[k + 1][0]
               for k in range(len(unnests) - 1)):
        return out
    cols = [c for _d, c in unnests]
    # exactly one WHERE in the statement (the outer query's)
    wms = list(re.finditer(r"(?is)\bWHERE\b", out))
    if len(wms) != 1:
        return out
    body_start = wms[0].end()
    d, j, end = 0, body_start, len(out)
    while j < len(out):
        ch = out[j]
        if ch in "([":
            d += 1
        elif ch in ")]":
            if d == 0:
                end = j
                break
            d -= 1
        elif d == 0 and ch.isalpha() and not (
                out[j - 1].isalnum() or out[j - 1] in "_."):
            if re.match(r"(?i)(?:GROUP|ORDER|LIMIT|HAVING|WINDOW|"
                        r"OFFSET|UNION|INTERSECT|EXCEPT)\b", out[j:]):
                end = j
                break
        j += 1
    body = out[body_start:end]
    # depth-0 AND conjuncts
    conjs, d, k, seg = [], 0, 0, 0
    while k < len(body):
        ch = body[k]
        if ch in "([":
            d += 1
        elif ch in ")]":
            d -= 1
        elif (d == 0 and ch in "Aa" and k > 0
              and not (body[k - 1].isalnum() or body[k - 1] in "_.")
              and re.match(r"(?i)AND\b", body[k:])):
            conjs.append(body[seg:k])
            seg = k + 3
            k += 3
            continue
        k += 1
    conjs.append(body[seg:])
    lit = rf"(?:{_PH}|[+-]?\d+(?:\.\d+)?|ARRAY\s*\[[^\]]*\])"
    vals: dict[str, str] = {}
    for c in cols:
        for cj in conjs:
            m = re.fullmatch(
                rf"(?is)\s*{re.escape(c)}\s*=\s*({lit})\s*", cj)
            if m:
                vals[c] = m.group(1)
                break
        else:
            return out  # some unnest output lacks an equality conjunct
    extra = "".join(f" AND {cols[0]} = {vals[c]}" for c in cols[1:-1])
    return out[:end] + extra + out[end:]


def _strict_window_frames_check(out: str) -> None:
    """context.strictWindowFrames (r13, default off): raise the
    reference's window-frame refusals instead of answering as a
    capability superset.  Spellings and rules are the reference's
    DruidSqlValidator.validateWindow (sql/calcite/planner/
    DruidSqlValidator.java:138-170):

    - RANGE (or GROUPS) frames with a non-UNBOUNDED/CURRENT bound,
    - FIRST_VALUE/LAST_VALUE over any frame with an offset bound,
    - NTILE with any explicit frame,
    - expression-based (non-literal) offset bounds.

    The engine evaluates all of these correctly by default (Spark
    frames are fully general); the flag exists so a drop-in
    replacement can refuse exactly where the reference refuses."""

    def bounds_of(spec: str):
        """(lower, upper, frame_kind) token texts of the spec's frame
        clause, or None when the spec has no explicit frame."""
        fm = re.search(r"(?is)\b(ROWS|RANGE|GROUPS)\b(.*)$", spec)
        if not fm:
            return None
        kind, rest = fm.group(1).upper(), fm.group(2).strip()
        bm = re.match(r"(?is)^BETWEEN\s+(.+?)\s+AND\s+(.+)$", rest)
        if bm:
            return bm.group(1).strip(), bm.group(2).strip(), kind
        return rest, "CURRENT ROW", kind

    def is_unb_or_cur(b: str) -> bool:
        return re.fullmatch(
            r"(?is)UNBOUNDED\s+(PRECEDING|FOLLOWING)|CURRENT\s+ROW",
            b.strip()) is not None

    def check_frame(spec: str, fn: str | None):
        bo = bounds_of(spec)
        if bo is None:
            return
        lo, hi, kind = bo
        if fn == "NTILE":
            raise ValueError("Framing of NTILE is not supported.")
        offs = [b for b in (lo, hi) if not is_unb_or_cur(b)]
        for b in offs:
            if not re.fullmatch(r"(?is)[\d.]+\s+(PRECEDING|FOLLOWING)",
                                b.strip()):
                raise ValueError(
                    "Window frames with expression based lower/upper "
                    "bounds are not supported.")
        if fn in ("FIRST_VALUE", "LAST_VALUE") and offs:
            raise ValueError(
                "Framing of FIRST_VALUE/LAST_VALUE is only allowed "
                "with UNBOUNDED or CURRENT ROW.")
        if kind in ("RANGE", "GROUPS") and offs:
            raise ValueError(
                "Order By with RANGE clause currently supports only "
                "UNBOUNDED or CURRENT ROW. Use ROWS clause instead.")

    # named WINDOW definitions: name -> spec text
    named: dict[str, str] = {}
    for wm in re.finditer(r"(?is)\bWINDOW\s+(\w+)\s+AS\s*\(", out):
        end = _find_spec_end(out, wm.end())
        named[wm.group(1).lower()] = out[wm.end():end]
        # comma-continued definitions in the same WINDOW clause
        pos = end + 1
        while True:
            cm = re.match(r"(?is)\s*,\s*(\w+)\s+AS\s*\(", out[pos:])
            if not cm:
                break
            s2 = pos + cm.end()
            e2 = _find_spec_end(out, s2)
            named[cm.group(1).lower()] = out[s2:e2]
            pos = e2 + 1
    # every named window is checked frame-wise (a bad frame is
    # refused even if only aggregates reference it)
    for spec in named.values():
        check_frame(spec, None)
    # function calls with OVER: attribute the spec to the function
    for fm in re.finditer(r"(?is)\b(\w+)\s*\(", out):
        fn = fm.group(1).upper()
        close = _find_spec_end(out, fm.end())
        om = re.match(r"(?is)\s*(?:IGNORE\s+NULLS\s+|RESPECT\s+NULLS"
                      r"\s+)?OVER\s*(\(|\w+)", out[close + 1:])
        if not om:
            continue
        if om.group(1) == "(":
            ss = close + 1 + om.end()
            spec = out[ss:_find_spec_end(out, ss)]
            # a bare name inside parens is a named-window reference
            nm = spec.strip().lower()
            if nm in named:
                spec = named[nm]
        else:
            spec = named.get(om.group(1).lower(), "")
        check_frame(spec, fn)
    # inline OVER specs not attached to a recognized call shape were
    # all covered above (Druid SQL window functions are always calls)


def _rewrite_druid_sql_masked(out: str, exact: bool, tz: str) -> str:
    """The rewrite pipeline body. `out` arrives with user string
    literals already masked (see _rewrite_druid_sql); every pass
    operates on the masked text."""
    ctx = _MASK.get()
    # invariant: the mask-once pass happened — no raw single quote
    # may enter the pipeline body (a pass firing inside literal
    # content is the bug class the mask exists to kill)
    assert "'" not in out, \
        "unmasked string literal reached the rewrite pipeline body"
    # quirk flag: must see the pre-rewrite UNNEST spellings
    flags = _CTX.get()
    if flags.unnest_filter_collapse and re.search(
            r"(?is)\bUNNEST\s*\(", out):
        out = _decoupled_unnest_filter_collapse(out)
    # strict-refusal compat mode: must see the pre-rewrite frames
    if flags.strict_window_frames and re.search(r"(?is)\bOVER\b", out):
        _strict_window_frames_check(out)
    # Scalar string/IP/parse functions over a REAL ARRAY argument are
    # Calcite validation errors in the reference ("Cannot apply 'FN'
    # to arguments of type ..."); over MVDs (VARCHAR) they map
    # element-wise and stay legal. Detect arrays syntactically
    # (ARRAY[...] / json_value(... RETURNING <t> array)) or through
    # the catalog's real-array column set (numeric/variant element
    # types — string-element arrays are indistinguishable from MVDs
    # in this engine's storage and stay unguarded, documented in
    # tools/negative_report.py).
    # names (re)defined as aliases in this statement may shadow a
    # table column of the same name (SELECT STRLEN(a_int) FROM
    # (SELECT ARRAY_TO_STRING(a_int, ',') AS a_int FROM t)) — never
    # reject on those; the corpus aliases outputs as "col", so a
    # same-name alias genuinely marks a derived scalar
    _shadowed = _statement_aliases(out)
    # Aggregation-buffer capacity model: ARRAY_AGG reserves its
    # declared maxSizeBytes per aggregator slot inside the fixed
    # processing buffer (QueryStackTests.COMPUTE_BUFFER_SIZE = 10 MiB
    # in the golden config), and the buffered engines refuse when one
    # row's aggregator space cannot fit ("Not enough capacity for
    # even one row!" — ByteBufferHashTable.java:123). The golden pair
    # pins the exact scope: 100 x 100000-byte ARRAY_AGGs error
    # (array_agg_misc_test003 A01) while the SAME shape with
    # STRING_AGG passes (string_agg_misc_test003 A01), and a single
    # over-capacity declaration passes too (array_agg_misc_test005
    # A06 2 GiB — the non-buffered fallback path). Tungsten has no
    # such ceiling, so the refusal is modeled at planning time.
    if re.search(r"(?is)\bARRAY_AGG\s*\(", out):
        _cap = 10 * 1024 * 1024
        _need = 0
        for _am in re.finditer(r"(?is)\bARRAY_AGG\s*\(", out):
            _ac = _find_spec_end(out, _am.end())
            if re.match(r"\s*OVER\b", out[_ac + 1:], re.IGNORECASE):
                continue  # windowed forms don't use the grouper
            _args = _split_top_commas(out[_am.end():_ac])
            if len(_args) >= 2 and re.fullmatch(
                    r"\d+", _args[-1].strip()):
                _sz = int(_args[-1])
                if _sz <= _cap:  # over-capacity singles fall back
                    _need += _sz
        if _need > _cap // 2:
            raise ValueError(
                f"Not enough capacity for even one row! "
                f"Need[{_need:,}] but have[{_cap // 2:,}].")
    # `'lit' || STRING_TO_MV(lit, sep)` maps the concat over each MVD
    # element (Druid expressions apply scalar functions element-wise
    # over multi-values — docs/querying/multi-value-dimensions.md;
    # qaSql mv.all A15 batteries compare the resulting MVDs with the
    # full scalar-operator matrix). Spark has no array||scalar form,
    # so lift to TRANSFORM; LIKE over the result maps to the
    # any-element filter form. Literal-args-only: a constant MVD.
    if re.search(rf"(?is)\|\|\s*STRING_TO_MV\s*\(\s*{_PH}\s*,", out):
        _stm = (rf"STRING_TO_MV\s*\(\s*{_PH}\s*,\s*{_PH}\s*\)")
        _opnd = rf"({_PH})\s*\|\|\s*({_stm})"
        out = re.sub(
            rf"(?is){_opnd}\s+NOT\s+LIKE\s+({_PH})",
            lambda m: (f"EXISTS(TRANSFORM({m.group(2)}, __mve -> "
                       f"CONCAT({m.group(1)}, __mve)), __mvl -> "
                       f"__mvl NOT LIKE {m.group(3)})"), out)
        out = re.sub(
            rf"(?is){_opnd}\s+LIKE\s+({_PH})",
            lambda m: (f"EXISTS(TRANSFORM({m.group(2)}, __mve -> "
                       f"CONCAT({m.group(1)}, __mve)), __mvl -> "
                       f"__mvl LIKE {m.group(3)})"), out)
        out = re.sub(
            rf"(?is){_opnd}",
            lambda m: (f"TRANSFORM({m.group(2)}, __mve -> "
                       f"CONCAT({m.group(1)}, __mve))"), out)
    if re.search(r"(?is)\bIS\s+(?:NOT\s+)?NULL", out) \
            and re.search(r"(?is)\bARRAY_AGG\s*\(", out):
        out = _fold_notnull_is_null(out)

    # Calcite's AggregateCaseToFilterRule: SUM(CASE WHEN c THEN x
    # ELSE 0 END) plans as SUM(x) FILTER (WHERE c) — observable when
    # NO row matches: the filtered SUM is NULL where the CASE form
    # would give 0 (quidem filtered_sum golden pins the null). Only
    # the single-WHEN, literal-0-ELSE shape (the rule's own guard).
    if re.search(r"(?is)\bSUM\s*\(\s*CASE\b", out):
        _scpos = 0
        while True:
            _scm = re.search(r"(?is)\bSUM\s*\(", out[_scpos:])
            if not _scm:
                break
            _start = _scpos + _scm.start()   # at 'SUM'
            _o = _scpos + _scm.end()         # after '('
            _scpos = _o
            if not re.match(r"\s*CASE\b", out[_o:], re.I):
                continue
            _close = _find_spec_end(out, _o)
            _arg = out[_o:_close]
            # a pre-existing FILTER clause would double up, and the
            # rule never fires on WINDOW aggregations (Calcite's rule
            # matches Aggregate nodes; Spark has no windowed FILTER)
            if re.match(r"\s*(FILTER|OVER)\b", out[_close + 1:],
                        re.I):
                continue
            if (len(re.findall(r"(?i)\bCASE\b", _arg)) != 1
                    or len(re.findall(r"(?i)\bWHEN\b", _arg)) != 1
                    or len(re.findall(r"(?i)\bEND\b", _arg)) != 1):
                continue
            _m = re.match(r"(?is)^\s*CASE\s+WHEN\s+(.+?)\s+THEN\s+"
                          r"(.+?)\s+ELSE\s+0(?:\.0*)?\s+END\s*$",
                          _arg)
            if not _m:
                continue
            _then = _m.group(2).strip()
            if _then == "1":
                # THEN 1 ELSE 0 converts to COUNT() FILTER — COUNT is
                # never null, so a no-match group stays 0
                # (CalciteQueryTest nested-sum golden pins 0, pinned
                # locally by test_mvd_null_expr)
                _rep = f"COUNT(*) FILTER (WHERE {_m.group(1)})"
            elif re.fullmatch(r"[+-]?\d+(\.\d+)?", _then):
                # other literal THENs are outside the rule — keep the
                # CASE (0 for a no-match group)
                continue
            elif _CTX.get().filtered_sum_rewrite:
                _rep = (f"SUM({_then}) "
                        f"FILTER (WHERE {_m.group(1)})")
            else:
                # extendedFilteredSumRewrite=false: the extended
                # (ELSE 0, expression THEN) arm stays a plain
                # SUM(CASE) — 0 for a no-match group
                continue
            out = out[:_start] + _rep + out[_close + 1:]
            _scpos = _start + len(_rep)

    # EarliestLatestAnySqlAggregator.EarliestLatestReturnTypeInference
    # (reference sql/.../builtin/EarliestLatestAnySqlAggregator.java:
    # 342-346): a non-numeric, non-string operand (arrays/complex)
    # makes the agg's Calcite type a FRESH NOT-NULL VARCHAR
    # (createSqlType), so IS [NOT] NULL on the call folds at plan
    # time even though the runtime value is null — qaArray
    # ops_funcs_agg_funcs B17-B22 C24 HAVING batteries keep the null
    # group through the folded IS NOT NULL.
    if re.search(r"(?is)\b(?:EARLIEST|LATEST|ANY_VALUE)\w*\s*\(",
                 out):
        # numeric CASTs of UNNEST elements are NOT NULL too (Calcite
        # types the unnest element NOT NULL; CAST preserves it), and
        # the numeric branch of the inference returns the operand
        # type — so earliest(cast(c AS int)) also folds (qaUnnest
        # mv_sql_agg_funcs B17/B19/B21/B23 C7 pin cnt 5: every group
        # survives HAVING ... IS NOT NULL). Bare STRING elements do
        # NOT fold (B18_C8 pins cnt 0).
        _ucols = {m.group(1) for m in re.finditer(
            r"(?is)\bUNNEST\s*\(\s*MV_TO_ARRAY\s*\([^()]*\)\s*\)\s*"
            r"AS\s+\w+\s*\(\s*(\w+)\s*\)", out)}
        _ucast = ("|".join(map(re.escape, sorted(_ucols)))
                  or "__none__")
        _pat_el = re.compile(r"(?is)\b(?:EARLIEST_BY|EARLIEST|"
                             r"LATEST_BY|LATEST|ANY_VALUE)\s*\(")
        _pos_el = 0
        while True:
            _em = _pat_el.search(out, _pos_el)
            if not _em:
                break
            _ecl = _find_spec_end(out, _em.end())
            _pos_el = _em.end()
            _inner = out[_em.end():_ecl]
            _first = (_split_top_commas(_inner) or [""])[0]
            # deliberately NOT folding bare array/variant COLUMNS:
            # the goldens only pin json_value extractions and numeric
            # unnest-element casts, and a column-arm fold would erase
            # the predicate BEFORE the real-array validation guards
            # see it (negative-corpus rejections must still fire)
            _is_arr = bool(
                re.match(r"(?is)^\s*JSON_VALUE\s*\(.*\bRETURNING\s+"
                         r"\w+\s+ARRAY\s*\)\s*$", _first)
                or re.fullmatch(
                    rf"(?is)\s*CAST\s*\(\s*(?:{_ucast})\s+AS\s+"
                    rf"(?:INT|INTEGER|BIGINT|SMALLINT|TINYINT|"
                    rf"FLOAT|REAL|DOUBLE|DECIMAL)\s*\)\s*", _first))
            if not _is_arr:
                continue
            _tm = re.match(r"(?is)\s+IS\s+(NOT\s+)?NULL(?![\w$])",
                           out[_ecl + 1:])
            if not _tm:
                continue
            _rep = "TRUE" if _tm.group(1) else "FALSE"
            out = out[:_em.start()] + _rep \
                + out[_ecl + 1 + _tm.end():]
            _pos_el = _em.start() + len(_rep)

    # COMPLEX<json> comparison semantics, pinned by the quidem
    # funcs_and_sql_datatype batteries on DECLARED json columns:
    # - same-column equality stays TRUE (A001/A002: Calcite's x = x
    #   on identical refs) — leave the engine's string equality alone
    # - DISTINCT-column equality has no defined value: c1 = c2 is
    #   never true (A011 `WHERE c1 = c2` -> 0 rows) -> NULL
    # - [NOT] IN (json_object(...)) evaluates NULL in PROJECTION
    #   position (A033/A035) but keeps the two-valued string compare
    #   as a FILTER (A036 `WHERE c1 NOT IN ...` counts all rows) —
    #   context decided by the nearest preceding clause keyword
    _djson = {c.lower() for c in _schema().declared_json_cols}
    if _djson:
        _jpat = "|".join(map(re.escape, sorted(_djson)))
        _jref = rf"(?:[A-Za-z_]\w*\.)?(?:{_jpat})"
        _kw = re.compile(r"(?is)\b(SELECT|WHERE|HAVING|GROUP\s+BY|"
                         r"ORDER\s+BY|LIMIT|\bON)\b")

        def _in_filter_ctx(pos: int) -> bool:
            last = None
            for km in _kw.finditer(out, 0, pos):
                last = km.group(1).upper()
            return last in ("WHERE", "HAVING", "ON")

        pat = re.compile(
            rf"(?is)(?<![\w.])(?:{_jref})\s+(?:NOT\s+)?IN\s*"
            rf"(\(\s*JSON_OBJECT\b)")
        pos = 0
        while True:
            m = pat.search(out, pos)
            if not m:
                break
            if _in_filter_ctx(m.start()):
                pos = m.end()
                continue
            close = _find_spec_end(out, m.start(1) + 1)
            out = out[:m.start()] + "CAST(NULL AS BOOLEAN)" \
                + out[close + 1:]
            pos = m.start() + 1

        def _djson_eq(m):
            a = m.group(1).split(".")[-1].lower()
            b = m.group(2).split(".")[-1].lower()
            return m.group(0) if a == b else "CAST(NULL AS BOOLEAN)"

        out = re.sub(
            rf"(?is)(?<![\w.])({_jref})\s*=\s*({_jref})(?![\w.(])",
            _djson_eq, out)

    # Variant arrays read as ARRAY<STRING> with their original tags:
    # a NUMERIC probe in offset_of/ordinal_of type-compares strictly
    # against the STRING-typed elements and never matches — even a
    # JSON number 1 reads string-tagged (qaArray ops_funcs_*
    # mv/array_offset_of(a_mixed, 1) pins null on data containing a
    # literal 1). Applies to variant catalog columns and
    # json_value(... RETURNING varchar array) extractions; the
    # engine's coercing match would wrongly hit '1'.
    if re.search(r"(?is)\b(?:MV|ARRAY)_(?:OFFSET|ORDINAL)_OF\s*\(",
                 out):
        _vcols = {c.lower() for c in _schema().variant_array_cols}
        _vpat = "|".join(map(re.escape, sorted(_vcols))) or "__none__"
        out = re.sub(
            rf"(?is)\b(?:MV|ARRAY)_(?:OFFSET|ORDINAL)_OF\s*\(\s*"
            rf"(?:(?:{_vpat})|JSON_VALUE\s*\([^()]*(?:\([^()]*\)"
            rf"[^()]*)*\bRETURNING\s+(?:VARCHAR|CHAR|STRING)\s+ARRAY"
            rf"\s*\))\s*,\s*[+-]?\d+(?:\.\d+)?\s*\)",
            "CAST(NULL AS INT)", out)

    def _is_real_array_expr(e: str) -> bool:
        e = e.strip()
        if re.match(r"(?is)^ARRAY\s*[\[(]", e):
            return True
        if re.search(r"(?is)\bRETURNING\s+\w+\s+ARRAY\s*\)\s*$", e):
            return True
        # json_value(... RETURNING <t> array) after its own rewrite:
        # a FROM_JSON(..., 'array<t>') producing expression
        if re.search(r"(?is)\bFROM_JSON\s*\(.*'array<\w+>'", e):
            return True
        # COMPLEX<json> columns reject from scalar slots too
        # (FLOOR(a_nested TO DAY), tan(a_nested), ...); the leading
        # token covers the `col TO unit` datetime forms
        head = re.match(r"[A-Za-z_]\w*", e)
        if head and head.group(0).lower() in _shadowed:
            return False
        if head and head.group(0) in (_schema().json_cols
                                      - _schema().real_array_cols) and (
                head.group(0) == e or re.fullmatch(
                    r"(?is)[A-Za-z_]\w*\s+TO\s+\w+", e)):
            return True
        return e.rsplit(".", 1)[-1] in _schema().real_array_cols

    _arr_reject = [
        ("STRLEN", [0], "INT"), ("STRPOS", [0, 1], "INT"),
        ("REVERSE", [0], "STRING"), ("REPEAT", [0], "STRING"),
        ("LEFT", [0], "STRING"), ("RIGHT", [0], "STRING"),
        ("TEXTCAT", [0, 1], "STRING"),
        ("CONTAINS_STRING", [0, 1], "BOOLEAN"),
        ("ICONTAINS_STRING", [0, 1], "BOOLEAN"),
        ("IPV4_PARSE", [0], "BIGINT"), ("IPV4_STRINGIFY", [0], "STRING"),
        ("IPV4_MATCH", [0], "BOOLEAN"), ("IPV6_MATCH", [0], "BOOLEAN"),
        ("PARSE_LONG", [0], "BIGINT"), ("TIME_PARSE", [0], "TIMESTAMP"),
        ("TIMESTAMP_TO_MILLIS", [0], "BIGINT"),
        ("MILLIS_TO_TIMESTAMP", [0], "TIMESTAMP"),
        ("GREATEST", None, "STRING"), ("LEAST", None, "STRING"),
        ("APPROX_COUNT_DISTINCT", [0], "BIGINT"),
        ("APPROX_COUNT_DISTINCT_BUILTIN", [0], "BIGINT"),
        ("STRING_TO_ARRAY", [0], "STRING"),
        ("STRING_TO_MV", [0], "STRING"),
        ("CEIL", [0], "BIGINT"), ("FLOOR", [0], "BIGINT"),
        ("MOD", [0, 1], "BIGINT"), ("ABS", [0], "BIGINT"),
        ("SIN", [0], "DOUBLE"), ("COS", [0], "DOUBLE"),
        ("TAN", [0], "DOUBLE"), ("COT", [0], "DOUBLE"),
        ("ASIN", [0], "DOUBLE"), ("ACOS", [0], "DOUBLE"),
        ("ATAN", [0], "DOUBLE"), ("ATAN2", [0, 1], "DOUBLE"),
        ("DEGREES", [0], "DOUBLE"), ("RADIANS", [0], "DOUBLE"),
        ("EXP", [0], "DOUBLE"), ("LN", [0], "DOUBLE"),
        ("LOG10", [0], "DOUBLE"), ("SQRT", [0], "DOUBLE"),
        ("CBRT", [0], "DOUBLE"), ("POWER", [0, 1], "DOUBLE"),
        ("TRUNCATE", [0], "DOUBLE"), ("TRUNC", [0], "DOUBLE"),
        ("SAFE_DIVIDE", [0, 1], "DOUBLE"),
        ("RTRIM", [0], "STRING"), ("LTRIM", [0], "STRING"),
        ("BTRIM", [0], "STRING"),
        ("HUMAN_READABLE_BINARY_BYTE_FORMAT", [0], "STRING"),
        ("HUMAN_READABLE_DECIMAL_BYTE_FORMAT", [0], "STRING"),
        ("HUMAN_READABLE_DECIMAL_FORMAT", [0], "STRING"),
        ("PARSE_JSON", [0], "STRING"),
        ("TRY_PARSE_JSON", [0], "STRING"),
        ("TRIM", [0], "STRING"), ("LENGTH", [0], "INT"),
        ("CHAR_LENGTH", [0], "INT"), ("ROUND", [0], "DOUBLE"),
        ("REGEXP_LIKE", [0], "BOOLEAN"),
        ("REGEXP_EXTRACT", [0], "STRING"),
        ("BITWISE_AND", None, "BIGINT"), ("BITWISE_OR", None, "BIGINT"),
        ("BITWISE_XOR", None, "BIGINT"),
        ("BITWISE_SHIFT_LEFT", [0], "BIGINT"),
        ("BITWISE_SHIFT_RIGHT", [0], "BIGINT"),
        ("BITWISE_COMPLEMENT", [0], "BIGINT"),
        ("TIME_CEIL", [0], "TIMESTAMP"), ("TIME_FLOOR", [0], "TIMESTAMP"),
        ("TIME_SHIFT", [0], "TIMESTAMP"),
        ("TIME_EXTRACT", [0], "BIGINT"), ("TIME_FORMAT", [0], "STRING"),
        ("TIME_IN_INTERVAL", [0], "BOOLEAN"),
        ("DATE_TRUNC", [1], "TIMESTAMP"),
        ("LPAD", [0], "STRING"), ("RPAD", [0], "STRING"),
        ("CONCAT", None, "STRING"),
        # COMPLEX<json>/array in plain-scalar slots (qaArray
        # ops_funcs_scalar_funcs C22 batteries: upper(a_nested) etc.
        # are Calcite validation errors)
        ("UPPER", [0], "STRING"), ("LOWER", [0], "STRING"),
        ("CHARACTER_LENGTH", [0], "INT"),
        ("REPLACE", None, "STRING"),
        ("SUBSTRING", [0], "STRING"), ("SUBSTR", [0], "STRING"),
        ("TIMESTAMPADD", [2], "TIMESTAMP"),
        ("TIMESTAMPDIFF", [1, 2], "BIGINT"),
        ("BITWISE_CONVERT_DOUBLE_TO_LONG_BITS", [0], "BIGINT"),
        ("BITWISE_CONVERT_LONG_BITS_TO_DOUBLE", [0], "DOUBLE"),
    ]

    def _arr_guard(fn, idxs, rt):
        def b(a):
            check = a if idxs is None else \
                [a[i] for i in idxs if i < len(a)]
            if fn in ("PARSE_JSON", "TRY_PARSE_JSON") and a and \
                    re.match(r"(?is)^JSON_QUERY\s*\(", a[0].strip()):
                # a JSON_QUERY result is COMPLEX, not the VARCHAR the
                # parse functions take
                return (f"CAST(RAISE_ERROR('Cannot apply {fn} to "
                        f"arguments of type COMPLEX') AS {rt})")
            if any(_is_real_array_expr(x) for x in check):
                return (f"CAST(RAISE_ERROR('Cannot apply {fn} to "
                        f"arguments of type ARRAY') AS {rt})")
            return None
        return b

    for _fn, _idxs, _rt in _arr_reject:
        if re.search(rf"(?i)\b{_fn}\s*\(", out):
            out = _rewrite_call(out, _fn, _arr_guard(_fn, _idxs, _rt))

    # ARRAY_ORDINAL_OF / ARRAY_OFFSET_OF / MV_* need a SCALAR second
    # argument ("second argument must be a scalar type")
    def _scalar_2nd_guard(fn):
        def b(a):
            if len(a) == 2 and _is_real_array_expr(a[1]):
                return (f"CAST(RAISE_ERROR('Function {fn}: second "
                        f"argument must be a scalar type') AS INT)")
            return None
        return b

    for _fn in ("ARRAY_ORDINAL_OF", "ARRAY_OFFSET_OF",
                "MV_ORDINAL_OF", "MV_OFFSET_OF"):
        if re.search(rf"(?i)\b{_fn}\s*\(", out):
            out = _rewrite_call(out, _fn, _scalar_2nd_guard(_fn))

    # EXTRACT(unit FROM complex) / POSITION(x IN complex): the slot
    # expression hides behind FROM/IN inside the single argument
    def _from_in_guard(fn, kw, rt):
        def b(a):
            if a and (m := re.match(rf"(?is)^.*?\s{kw}\s+(.*)$",
                                    a[0].strip())):
                if _is_real_array_expr(m.group(1)):
                    return (f"CAST(RAISE_ERROR('Cannot apply {fn} to "
                            f"arguments of type COMPLEX') AS {rt})")
            return None
        return b

    if re.search(r"(?i)\bEXTRACT\s*\(", out):
        out = _rewrite_call(out, "EXTRACT",
                            _from_in_guard("EXTRACT", "FROM", "BIGINT"))
    if re.search(r"(?i)\bPOSITION\s*\(", out):
        out = _rewrite_call(out, "POSITION",
                            _from_in_guard("POSITION", "IN", "INT"))

    # ARRAY_CONTAINS(ARRAY[..cols..], col): a constructed array with
    # column elements takes only a literal or array needle in the
    # reference's native planner ("Invalid expression" —
    # qaUnnest array_sql_array_funcs.02 C3-C6 vs the legal C7-C14
    # literal/array-needle forms)
    def _ac_mixed_guard(a):
        if len(a) == 2:
            arr, needle = a[0].strip(), a[1].strip()
            m = re.match(r"(?is)^ARRAY\s*\[(.*)\]$", arr)
            if m and re.fullmatch(r"[A-Za-z_]\w*", needle) and \
                    not re.fullmatch(r"(?i)NULL|TRUE|FALSE", needle):
                elems = [e.strip() for e in m.group(1).split(",")]
                if any(re.fullmatch(r"[A-Za-z_]\w*", e)
                       and not re.fullmatch(r"(?i)NULL|TRUE|FALSE", e)
                       for e in elems):
                    return ("CAST(RAISE_ERROR('Invalid expression: "
                            "constructed array with column elements "
                            "requires a literal or array needle') "
                            "AS BOOLEAN)")
        return None

    if re.search(r"(?i)\bARRAY_CONTAINS\s*\(\s*ARRAY\s*\[", out):
        out = _rewrite_call(out, "ARRAY_CONTAINS", _ac_mixed_guard)

    # COALESCE/NVL(json_value(... RETURNING boolean array), ARRAY[..]):
    # the reference's BOOLEAN ARRAY never unifies with an array
    # literal ("Illegal mixing of types" / "Parameters must be of the
    # same type" — qaArray ops_funcs_scalar_funcs.42 A9_B5/B6 C2-C3)
    def _bool_arr_mix_guard(a):
        if len(a) >= 2:
            has_bool = any(re.search(
                r"(?is)\bRETURNING\s+BOOLEAN\s+ARRAY\b", x) for x in a)
            has_lit = any(re.match(r"(?is)^ARRAY\s*\[", x.strip())
                          for x in a)
            if has_bool and has_lit:
                return ("CAST(RAISE_ERROR('Illegal mixing of types: "
                        "BOOLEAN ARRAY with array literal') AS STRING)")
        return None

    if re.search(r"(?is)\bRETURNING\s+BOOLEAN\s+ARRAY\b", out):
        for _fn in ("COALESCE", "NVL"):
            out = _rewrite_call(out, _fn, _bool_arr_mix_guard)

    # ARRAY[] — the reference's constructor requires at least one
    # element ("Require at least 1 argument"); Spark's array() is
    # happy with zero
    out = re.sub(r"(?is)\bARRAY\s*\[\s*\]",
                 "CAST(RAISE_ERROR('Require at least 1 argument') "
                 "AS STRING)", out)

    # UNNEST(expr) AS u(name) where `name` is also a column of the
    # FROM table: Calcite's SELECT * expansion rejects the duplicate
    # ("Column 'name' is ambiguous" — qaUnnest array_sql_col_general
    # A1_B3). Spark silently emits two same-named columns.
    if re.match(r"(?is)\s*SELECT\s+\*", out):
        for _um in re.finditer(r"(?is)\bUNNEST\s*\(", out):
            _ue = _find_spec_end(out, _um.end())
            _am = re.match(r"(?is)\s*AS\s+\w+\s*\(\s*(\w+)\s*\)",
                           out[_ue + 1:])
            if not _am:
                continue
            _an = _am.group(1)
            if re.search(rf"(?i)(?<![\w.]){re.escape(_an)}\b",
                         out[_um.end():_ue]) and (
                    _an in _schema().array_elem or _an in _schema().mvd_cols
                    or _an in _schema().scalar_cols
                    or _an in _schema().json_cols):
                return (f"SELECT CAST(RAISE_ERROR('Column ''{_an}'' "
                        f"is ambiguous') AS INT) AS __err")

    # (SELECT * FROM t a CROSS/INNER JOIN t b ...): Calcite expands
    # the duplicate output names with a 0 suffix (a_bool, a_bool0) so
    # an outer bare reference binds to the LEFT side; Spark keeps two
    # same-named columns and rejects the outer reference as ambiguous
    # (qaSql sql_join.03/.04 A7 batteries). Expand the star with the
    # catalog's column list using the same suffix convention.
    _tcols = _schema().table_columns
    if _tcols and re.search(r"(?is)\(\s*SELECT\s+\*\s+FROM", out):
        _kw = {"CROSS", "INNER", "LEFT", "RIGHT", "FULL", "JOIN",
               "ON", "WHERE", "GROUP", "ORDER", "LIMIT", "UNNEST"}

        def _self_join_star(m):
            t, a1, jt, t2, a2 = m.groups()
            if (t != t2 or t not in _tcols
                    or a1.upper() in _kw or a2.upper() in _kw):
                return m.group(0)
            cols = _tcols[t]
            sel = ", ".join(
                [f"{a1}.{c}" for c in cols]
                + [f"{a2}.{c} AS {c}0" for c in cols])
            return m.group(0).replace("*", sel, 1)

        out = re.sub(
            r"(?is)\(\s*SELECT\s+\*\s+FROM\s+(\w+)\s+(?:AS\s+)?(\w+)"
            r"\s+(CROSS|INNER)\s+JOIN\s+(\w+)\s+(?:AS\s+)?(\w+)\b",
            _self_join_star, out)

    # ORDER BY repeating a grouped SELECT expression verbatim: Spark's
    # analyzer cannot re-resolve the source columns above the
    # aggregate once the expression is rewritten (json_query ->
    # from_json chains); Calcite binds it to the output column. Swap
    # the ORDER BY item for the SELECT item's alias — identical
    # ordering by the grouped value (qaSql sql_order_by.03 A24/A25).
    _kwm0 = _scan_top_kw(out, ["SELECT", "FROM", "GROUP BY",
                               "ORDER BY"])
    if "GROUP BY" in _kwm0 and "ORDER BY" in _kwm0 \
            and "SELECT" in _kwm0 and "FROM" in _kwm0 \
            and _kwm0["ORDER BY"] > _kwm0["GROUP BY"]:
        _sel_items = _top_split(
            out[_kwm0["SELECT"] + 6:_kwm0["FROM"]])

        def _norm_expr(e: str) -> str:
            # identical literals mask to DIFFERENT placeholder ids —
            # compare unmasked text
            e = ctx.unmask(e) if ctx else e
            return " ".join(e.split()).lower()

        _alias_of = {}
        for _it in _sel_items:
            _am2 = re.match(r"(?is)^(.*\S)\s+(?:AS\s+)?([A-Za-z_]\w*)"
                            r"\s*$", _it.strip())
            if _am2 and "(" in _am2.group(1):
                _alias_of[_norm_expr(_am2.group(1))] = _am2.group(2)
        if _alias_of:
            _ob_start = _kwm0["ORDER BY"] + 8
            _ob_end = min((v for k, v in _scan_top_kw(
                out[_ob_start:], ["LIMIT", "OFFSET"]).items()),
                default=len(out) - _ob_start) + _ob_start
            _items = _top_split(out[_ob_start:_ob_end])
            _new = []
            _changed = False
            for _it in _items:
                _m3 = re.match(r"(?is)^(.*?)(\s+(?:ASC|DESC))?"
                               r"(\s+NULLS\s+(?:FIRST|LAST))?\s*$",
                               _it.strip())
                _key = _norm_expr(_m3.group(1) or "")
                if _key in _alias_of:
                    _changed = True
                    _new.append(_alias_of[_key]
                                + (_m3.group(2) or "")
                                + (_m3.group(3) or ""))
                else:
                    _new.append(_it.strip())
            if _changed:
                out = (out[:_ob_start] + " " + ", ".join(_new) + " "
                       + out[_ob_end:])

    # a NUMERIC probe into a VARIANT array is NULL in the reference
    # (the probe casts to the variant element type and misses —
    # qaArray ops_funcs_array_funcs C19: array_offset_of(a_mixed, 1))
    _vars_ = _schema().variant_array_cols
    if _vars_:
        def _variant_probe_null(fn):
            def b(a):
                if len(a) == 2 and a[0].strip() in _vars_ and \
                        re.fullmatch(r"[-+]?\d+(\.\d+)?",
                                     a[1].strip()):
                    return "CAST(NULL AS INT)"
                return None
            return b
        for _fn in ("ARRAY_ORDINAL_OF", "ARRAY_OFFSET_OF"):
            if re.search(rf"(?i)\b{_fn}\s*\(", out):
                out = _rewrite_call(out, _fn, _variant_probe_null(_fn))

    # an ARRAY column in [NOT] IN (SELECT ...) rejects in the
    # reference ('ARRAY' validation error — qaArray
    # sql_subquery_with_where !error batteries). The expression-list
    # form `a_bool IN (json_value(... RETURNING boolean array), ...)`
    # is LEGAL (array-vs-array comparison) and stays untouched.
    # MVDs publish as VARCHAR in the reference and are legal in IN
    # subqueries; string-element arrays are indistinguishable from
    # MVDs here (documented ambiguity) — so the guard covers only the
    # provably-real arrays
    _in_arrays = set(_schema().real_array_cols) - set(_schema().mvd_cols)
    if _in_arrays and re.search(r"(?i)\bIN\s*\(\s*SELECT\b", out):
        out = re.sub(
            r"(?is)(?<![\w.])([A-Za-z_]\w*)(\s+NOT)?\s+IN\s*"
            r"\(\s*SELECT\b",
            lambda m: ("CAST(RAISE_ERROR('Values passed to IN operator "
                       "must have compatible types ARRAY') AS BOOLEAN) "
                       "OR " + m.group(0))
            if m.group(1) in _in_arrays else m.group(0),
            out)

    # ordered comparisons / LIKE / BETWEEN over COMPLEX<json> columns
    # reject (Calcite: COMPLEX<JSON> is not comparable). Variant-array
    # columns share the catalog hint store but ARE comparable
    # (Calcite array ordering) — exclude them.
    _cjson = _schema().json_cols - _schema().real_array_cols
    if _cjson:
        _jc = "|".join(re.escape(c) for c in sorted(_cjson))
        _jpat = re.compile(
            rf"(?is)(?<![\w.])(?:[A-Za-z_]\w*\.)?({_jc})\s*"
            rf"(<=|>=|<(?![>=])|>(?!=)|"
            rf"\s+NOT\s+BETWEEN\b|\s+BETWEEN\b|"
            rf"\s+IS\s+(?:NOT\s+)?(?:TRUE|FALSE)\b)")
        # LIKE rejects only over DECLARED COMPLEX<json> dims — the
        # reference's Calcite validator ("Cannot apply 'LIKE' to
        # <COMPLEX<JSON>>", qaArray sql_subquery_with_where.55/.56);
        # discovery-stored json TEXT ("JSON_TEXT" hint) stays
        # LIKE-able (qaJsonCols ingest_schmless I14-I17 pin
        # `c2 like '%b_str%'` as a working match)
        _djson = _schema().declared_json_cols - _schema().real_array_cols
        if _djson:
            _djc = "|".join(re.escape(c) for c in sorted(_djson))
            _djpat = re.compile(
                rf"(?is)(?<![\w.])(?:[A-Za-z_]\w*\.)?({_djc})\s+"
                rf"(?:NOT\s+)?LIKE\b")
            if _djpat.search(out):
                out = _djpat.sub(
                    lambda m: ("CAST(RAISE_ERROR('Cannot apply LIKE "
                               "to arguments of type COMPLEX JSON') "
                               "AS BOOLEAN) OR " + m.group(0)),
                    out, count=0)
        if _jpat.search(out):
            out = _jpat.sub(
                lambda m: ("CAST(RAISE_ERROR('Cannot apply comparison "
                           "to arguments of type COMPLEX JSON') "
                           "AS BOOLEAN) OR " + m.group(0)),
                out, count=0)
        # arithmetic over COMPLEX<json> rejects too ("Cannot apply
        # '+' to arguments of type '<COMPLEX<JSON>> + ...'" — qaArray
        # ops_funcs_ops C22 batteries). The column ref adjacent to the
        # operator swaps for a raising DOUBLE so the op types check.
        _jarith = re.compile(
            rf"(?is)(?<![\w.])(?:[A-Za-z_]\w*\.)?({_jc})\s*"
            rf"([+\-*/])(?![*/-])")
        if _jarith.search(out):
            out = _jarith.sub(
                lambda m: ("CAST(RAISE_ERROR('Cannot apply arithmetic "
                           "to arguments of type COMPLEX JSON') "
                           f"AS DOUBLE) {m.group(2)}"),
                out, count=0)
        _jarith_r = re.compile(
            rf"(?is)([+\-*/])\s*(?:[A-Za-z_]\w*\.)?({_jc})(?![\w.])")
        if _jarith_r.search(out):
            out = _jarith_r.sub(
                lambda m: (f"{m.group(1)} CAST(RAISE_ERROR('Cannot "
                           "apply arithmetic to arguments of type "
                           "COMPLEX JSON') AS DOUBLE)"),
                out, count=0)

    if re.search(r"(?i)\)\s*IS\s+(NOT\s+)?(TRUE|FALSE)\b", out):
        out = _parenthesize_in_is(out)
    out = _union_mvd_alignment(out)
    out = _coerce_array_comparisons(out)
    if re.search(r"(?is)\bORDER\s+BY\b", out) \
            and re.search(r"(?i)\bOVER\b", out):
        out = _windowed_order_by(out)
    # GROUP BY () — Calcite's empty grouping (global aggregate); Spark
    # wants the clause dropped entirely
    out = re.sub(r"\bGROUP\s+BY\s+\(\s*\)", "", out, flags=re.IGNORECASE)
    # CAST(x AS CHAR) — Calcite's bare CHAR (length 1 default); Spark
    # requires a length, and Druid treats it as STRING anyway
    out = re.sub(r"\bAS\s+CHAR\s*\)", "AS STRING)", out,
                 flags=re.IGNORECASE)
    # INTERVAL '63' DAY (3) — Calcite's leading-field precision
    # (TPC-H Q1 spells it); Spark rejects the precision suffix
    out = re.sub(
        rf"(?i)(\bINTERVAL\s+(?:'[^']*'|{_PH})\s+[A-Z]+)\s*\(\d+\)",
        r"\1", out)
    # INTERVAL 'n' QUARTER — Spark has no QUARTER unit; 1 quarter =
    # 3 months (Calcite TimeUnit.QUARTER)
    def _quarter_sub(m):
        lit = ctx.val(m.group(1)) if ctx else None
        n = (lit or m.group(1)).strip("'")
        if not n.isdigit():
            return m.group(0)
        rep = f"INTERVAL '{int(n) * 3}' MONTH"
        return ctx.mask(rep) if ctx else rep

    out = re.sub(
        rf"(?i)\bINTERVAL\s+('\d+'|{_PH})\s+QUARTER\b",
        _quarter_sub, out)
    # druid.<table> schema qualifiers: the engine registers bare
    # table names (`druid` is the reference's sole datasource schema).
    # String literals are masked so a 'druid.xyz' literal survives.
    if re.search(r"(?i)\bdruid\s*\.", out):
        masked, _dl = _mask_local(out)
        masked = re.sub(r"(?i)\bdruid\s*\.\s*(\w+)", r"\1", masked)
        out = _unmask_local(masked, _dl)
    # MV functions treat a string SCALAR as a 1-element MVD (the
    # reference's multi-value family; qaUnnest mv_funcs over
    # cast(c AS char)); wrap syntactically-scalar args in ARRAY()
    if re.search(r"(?i)\bMV_", out):
        def _mv_scalar(arg_idx, nargs=None):
            def b(a):
                if nargs is not None and len(a) != nargs:
                    return None
                if arg_idx >= len(a):
                    return None
                v = a[arg_idx]
                if re.fullmatch(r"(?is)NULL", v.strip()):
                    a = list(a)
                    a[arg_idx] = "CAST(NULL AS ARRAY<STRING>)"
                    return "__MVW__(" + ", ".join(a) + ")"
                if re.fullmatch(r"(?is)CAST\s*\(.+\s+AS\s+STRING\s*\)"
                                r"|'(?:[^']|'')*'", v.strip()):
                    a = list(a)
                    # a null scalar is a null MVD, not a 1-elem [null]
                    a[arg_idx] = f"IF(({v}) IS NULL, NULL, ARRAY({v}))"
                    # marker dodges the rescan of the same call name
                    return "__MVW__(" + ", ".join(a) + ")"
                return None
            return b
        for fn, idx in (("MV_LENGTH", 0), ("MV_OFFSET", 0),
                        ("MV_ORDINAL", 0), ("MV_CONTAINS", 0),
                        ("MV_OVERLAP", 0), ("MV_OVERLAP", 1),
                        ("MV_OFFSET_OF", 0),
                        ("MV_ORDINAL_OF", 0), ("MV_TO_STRING", 0),
                        ("MV_SLICE", 0), ("MV_FILTER_ONLY", 0),
                        ("MV_FILTER_NONE", 0), ("MV_FILTER_PREFIX", 0),
                        ("MV_FILTER_REGEX", 0), ("MV_APPEND", 0),
                        ("MV_CONCAT", 0), ("MV_CONCAT", 1),
                        ("MV_PREPEND", 1), ("MV_TO_ARRAY", 0)):
            out = _rewrite_call(out, fn, _mv_scalar(idx))
            out = out.replace("__MVW__(", f"{fn}(")
    # JSON functions over a SQL ARRAY column read its JSON form: the
    # reference's nested-column machinery sees arrays as JSON arrays
    # (json_keys(a_str,'$.') = [0,1,2]; to_json_string(a_str) =
    # '["S1","S2",null]' — qaArray ops_funcs_json_funcs), while a bare
    # Spark array cast to string renders '[S1, S2, null]'. Rescan-safe:
    # once wrapped, the arg is no longer a bare identifier.
    def _is_arrayish_json_arg(e: str) -> bool:
        """A SQL-ARRAY-producing expression whose JSON form the json
        functions must read: a typed-array column, a VARIANT array
        column, or a json_value(... RETURNING <t> array) chain
        (ops_funcs_json_funcs C11/C12/C20/C21: the reference
        re-enters the nested machinery on the produced array)."""
        e = e.strip()
        if e in _schema().array_elem or e in _schema().variant_array_cols:
            return True
        return bool(re.match(r"(?is)^JSON_VALUE\s*\(", e)
                    and re.search(r"(?is)\bRETURNING\s+\w+\s+ARRAY"
                                  r"\s*\)\s*$", e))

    if _schema().array_elem or _schema().variant_array_cols or re.search(
            r"(?is)\bRETURNING\s+\w+\s+ARRAY\b", out):
        # an ARRAY value is a single leaf for PATHS: '[$]' (the
        # reference's NestedPathFinder treats primitive arrays as
        # terminal — ops_funcs_json_funcs C2/C11 batteries)
        out = _rewrite_call(
            out, "JSON_PATHS",
            lambda a: ("ARRAY('$')"
                       if len(a) == 1 and _is_arrayish_json_arg(a[0])
                       else None))
        def _str_elem_source(e: str) -> bool:
            # string-element sources keep JSON-quoted leaf renders
            e = e.strip()
            if e in _schema().variant_array_cols:
                return True
            if _schema().array_elem.get(e, "").split("(")[0] in (
                    "string", "varchar", "char"):
                return True
            return bool(re.search(
                r"(?is)\bRETURNING\s+(?:varchar|char|string)\s+ARRAY"
                r"\s*\)\s*$", e))

        for _jf in ("JSON_KEYS", "JSON_VALUE", "JSON_QUERY",
                    "JSON_QUERY_ARRAY", "TO_JSON_STRING"):
            out = _rewrite_call(
                out, _jf,
                lambda a, _jf=_jf:
                ((("JSON_QUERY_STRSRC" if _jf == "JSON_QUERY"
                   and _str_elem_source(a[0]) else _jf)
                  + f"(TO_JSON({a[0]})"
                  + ("".join(", " + x for x in a[1:])) + ")")
                 if a and _is_arrayish_json_arg(a[0]) else None))
    # ORDER BY over a COMPLEX<json> result (JSON_QUERY expression, its
    # alias, or its select ordinal) sorts through the reference's
    # StructuredData.compareTo (StructuredData.java:151-188): nulls
    # first, then strings (by value), then numbers (as doubles), then
    # everything else by Long.compare of XXH64(SMILE(value), seed
    # 0x9747b28c) — an arbitrary-but-stable container order the
    # qaArray sql_order_by.03 A24/A25 goldens pin in BOTH directions.
    # The sort key is a struct (rank, string, double, hash) with the
    # hash from the registered json_complex_hash64 reproduction.
    if re.search(r"(?is)\bORDER\s+BY\b", out) and \
            re.search(r"(?is)\bJSON_QUERY\s*\(", out):
        _okw = _scan_top_kw(out, ["SELECT", "FROM", "ORDER BY",
                                  "LIMIT", "OFFSET"])
        if "ORDER BY" in _okw and "SELECT" in _okw and "FROM" in _okw:
            _ob_end = min((_okw[k] for k in ("LIMIT", "OFFSET")
                           if k in _okw), default=len(out))
            _obseg = out[_okw["ORDER BY"] + 8:_ob_end]
            _sel = out[_okw["SELECT"] + 6:_okw["FROM"]]
            _items = _split_top_commas(_sel)
            # select position / expression text / alias → the OUTPUT
            # alias (Spark refuses SQL UDFs inside Sort and resolves
            # post-aggregate ORDER BY against the output, so the sort
            # key must reference the aliased column)
            _jq_pos_alias, _jq_expr_alias, _jq_aliases = {}, {}, set()
            for _i, _it in enumerate(_items):
                _im = re.match(
                    r"(?is)^\s*(JSON_QUERY\s*\(.*\))\s*"
                    r"(?:AS\s+)?(\w+)\s*$", _it)
                if _im:
                    _jq_pos_alias[_i + 1] = _im.group(2)
                    _jq_expr_alias[re.sub(r"\s+", "",
                                          _im.group(1)).lower()] = \
                        _im.group(2)
                    _jq_aliases.add(_im.group(2).lower())

            def _ob_item(m2):
                tok = m2.group(1).strip()
                tail = m2.group(2) or ""
                alias = None
                if re.fullmatch(r"\d+", tok):
                    alias = _jq_pos_alias.get(int(tok))
                elif re.match(r"(?is)^JSON_QUERY\s*\(", tok):
                    alias = _jq_expr_alias.get(
                        re.sub(r"\s+", "", tok).lower())
                elif tok.lower() in _jq_aliases:
                    alias = tok
                if alias is None:
                    return m2.group(0)
                a = alias
                return (
                    f" NAMED_STRUCT("
                    f"'r', CASE WHEN {a} IS NULL THEN 0"
                    f" WHEN {a} LIKE '\"%' THEN 1"
                    f" WHEN {a} RLIKE '^[-0-9]' THEN 2"
                    f" ELSE 3 END, "
                    f"'s', CASE WHEN {a} LIKE '\"%' THEN"
                    f" SUBSTRING({a}, 2, LENGTH({a}) - 2) END, "
                    f"'d', CASE WHEN {a} RLIKE '^[-0-9]' THEN"
                    f" CAST({a} AS DOUBLE) END, "
                    f"'h', CASE WHEN {a} IS NOT NULL"
                    f" AND NOT {a} LIKE '\"%'"
                    f" AND NOT {a} RLIKE '^[-0-9]' THEN"
                    f" JSON_COMPLEX_HASH64({a}) END)"
                    f"{tail}")

            _new_ob = ", ".join(
                re.sub(r"(?is)^\s*(.+?)(\s+(?:ASC|DESC)\s*"
                       r"(?:NULLS\s+(?:FIRST|LAST)\s*)?)?$",
                       _ob_item, x, count=1)
                for x in _split_top_commas(_obseg))
            out = (out[:_okw["ORDER BY"] + 8] + " " + _new_ob + " "
                   + out[_ob_end:])
            out = _mask_local(out)[0]
    out = _rewrite_json_returning(out)
    # BIT_AND folds bitwiseAnd from an initial accumulator of ZERO in
    # the reference (BitwiseSqlAggregator.java:142-151 init "0";
    # CalciteQueryTest.testBitwiseAggregatorsTimeseries expects 0), so
    # any group with a non-null input aggregates to 0; all-null groups
    # are NULL (isNullUnlessAggregated). BIT_OR/BIT_XOR share the init
    # but 0 is their identity, so they keep real semantics.
    def _bit_fold(fn):
        def b(a):
            if len(a) == 1 and _is_real_array_expr(a[0]):
                # BIT_* over an ARRAY/COMPLEX argument is a Calcite
                # validation error in the reference (qaArray
                # ops_funcs_agg_funcs.09 C batteries)
                return (f"CAST(RAISE_ERROR('Cannot apply {fn} to "
                        f"arguments of type ARRAY') AS BIGINT)")
            if len(a) == 1 and not re.match(
                    r"(?is)^CAST\(.*AS BIGINT\)$", a[0].strip()):
                # the aggregator folds bitwise(acc, x) with the
                # two-valued asLong coercion (ExprEval.computeLong:
                # unparseable NON-NULL strings read 0), while NULL
                # input rows are skipped and leave an all-null group
                # NULL (isNullUnlessAggregated) — qaUnnest
                # mv_sql_agg_funcs B34/B35 pin bit_or('') = 0 with a
                # null group staying blank
                return (f"{fn}(CASE WHEN {a[0]} IS NULL THEN "
                        f"CAST(NULL AS BIGINT) ELSE COALESCE("
                        f"TRY_CAST({a[0]} AS BIGINT), 0) END)")
            return None
        return b

    for _bfn in ("BIT_OR", "BIT_XOR"):
        out = _rewrite_call_unless_windowed(out, _bfn, _bit_fold(_bfn))
    out = _rewrite_call_unless_windowed(
        out, "BIT_AND",
        lambda a: ((f"CAST(RAISE_ERROR('Cannot apply BIT_AND to "
                    f"arguments of type ARRAY') AS BIGINT)")
                   if _is_real_array_expr(a[0]) else
                   f"IF(COUNT({a[0]})__FILTER__ > 0, "
                   f"CAST(0 AS BIGINT), CAST(NULL AS BIGINT))")
        if len(a) == 1 else None)
    # time-ordered first/last aggregators (EarliestLatestAnySqlAggregator)
    # 3-arg forms carry maxBytesPerValue (EarliestLatestBySqlAggregator)
    # — dropped, Spark strings are unbounded
    out = _rewrite_call(
        out, "EARLIEST_BY",
        lambda a: ((f"MIN_BY({a[0]}, __time)"
                    if re.match(r"(?is)^TIMESTAMP\s", a[1].strip())
                    else f"MIN_BY({a[0]}, {a[1]})")
                   if len(a) in (2, 3) else None))
    out = _rewrite_call(
        out, "LATEST_BY",
        lambda a: ((f"MAX_BY({a[0]}, __time)"
                    if re.match(r"(?is)^TIMESTAMP\s", a[1].strip())
                    else f"MAX_BY({a[0]}, {a[1]})")
                   if len(a) in (2, 3) else None))
    # balanced-paren rewrite so nested-call args work
    # (EARLIEST(UPPER(x))); the 2-arg maxBytes form drops the byte cap
    # (Spark strings are unbounded)
    # EARLIEST/LATEST over a COMPLEX<json> column folds to NULL in the
    # reference (qaSql aggr_general A21/A25/A29: the first/last
    # aggregator has no COMPLEX implementation and yields null)
    def _first_last(mf):
        def b(args):
            if not args or len(args) > 2:
                return None
            a0 = args[0].strip()
            if a0 in (_schema().json_cols - _schema().real_array_cols):
                # no COMPLEX implementation in the reference's
                # first/last aggregator — folds to NULL (qaSql
                # aggr_general A21/A25); ARRAY inputs are legal and
                # keep the aggregation
                return "CAST(NULL AS STRING)"
            return f"{mf}({args[0]}, __time)"
        return b

    out = _rewrite_call(out, "EARLIEST", _first_last("MIN_BY"))
    out = _rewrite_call(out, "LATEST", _first_last("MAX_BY"))
    # ANY_VALUE over COMPLEX<json> folds to NULL the same way
    # (aggr_general A29); other shapes keep Spark's builtin. The
    # reference's 3-arg form ANY_VALUE(expr, maxBytesPerValue,
    # aggregateMultipleValues) — StringAnyAggregatorFactory: the byte
    # bound is a buffer-sizing hint (no truncation semantics to
    # reproduce), and aggregateMultipleValues=false takes the FIRST
    # element of a multi-value row instead of the whole MVD
    # (CalciteJoinQueryTest testJoinOnTimeseriesWithFloorOnTime pins
    # [a, b] vs a).
    def _any_value_call(a):
        if len(a) == 1 and a[0].strip() in (_schema().json_cols
                                            - _schema().real_array_cols):
            return "CAST(NULL AS STRING)"
        if len(a) == 3:
            expr = a[0].strip()
            keep_mv = a[2].strip().lower() != "false"
            if not keep_mv and (expr in _schema().mvd_cols
                                or expr in _schema().array_elem):
                return f"any_value(ELEMENT_AT({expr}, 1))"
            return f"any_value({a[0]})"
        # 2-arg reference form (expr, maxBytesPerValue) — the numeric
        # bound would read as Spark's ignoreNulls boolean slot
        if len(a) == 2 and re.fullmatch(r"\d+", a[1].strip()):
            return f"any_value({a[0]})"
        return None
    out = _rewrite_call(out, "ANY_VALUE", _any_value_call)
    # sketch-state functions ALWAYS compile to real Datasketches state
    # (Spark 3.5+/4 ships the Apache Datasketches HLL family natively —
    # the same library the reference extension wraps:
    # extensions-core/datasketches/.../hll/HllSketchBuildAggregatorFactory.java).
    # DS_HLL(x) yields mergeable BINARY sketch state; HLL_SKETCH_ESTIMATE
    # finalizes it (optional round arg dropped — Spark always rounds).
    out = _rewrite_call(out, "HLL_SKETCH_ESTIMATE",
                        lambda args: f"hll_sketch_estimate({args[0]})")
    out = _rewrite_call(
        out, "DS_HLL",
        lambda args: "hll_sketch_agg(" + _hll_parity_input(args[0])
        + ", " + (args[1] if len(args) > 1 else "12") + ")")
    # HLL sketch-object helpers: pairwise union of sketch states;
    # analytic error bounds around the estimate (lgK=12 → RSE ~1.63%,
    # the reference's HllSketchToEstimateWithBoundsPostAggregator
    # shape: [estimate, lower, upper])
    out = _rewrite_call(out, "HLL_SKETCH_UNION", _hll_union)
    out = _rewrite_call(out, "HLL_SKETCH_ESTIMATE_WITH_ERROR_BOUNDS",
                        _hll_bounds)
    out = _rewrite_call(out, "HLL_SKETCH_TO_STRING", _hll_to_string)
    out = _rewrite_call(out, "DS_QUANTILE_SUMMARY", _ds_quantile_summary)
    # bloom-filter extension SQL forms (engine-internal holder format,
    # interoperable with the native `bloom` aggregator/filter)
    out = _rewrite_call(out, "BLOOM_FILTER_TEST", _bloom_filter_test)
    out = _rewrite_call(out, "BLOOM_FILTER", _bloom_filter_build)
    # arrayOfDoubles (tuple) sketch SQL forms — finalizers first so the
    # standalone arm only sees unwrapped builds
    out = _rewrite_call(out, "DS_TUPLE_DOUBLES_METRICS_SUM_ESTIMATE",
                        _tuple_metrics_sum)
    out = _rewrite_call(out, "DS_TUPLE_DOUBLES_ESTIMATE", _tuple_estimate)
    for _op in ("INTERSECT", "UNION", "NOT"):
        out = _rewrite_call(
            out, f"DS_TUPLE_DOUBLES_{_op}",
            lambda args, _o=_op: _tuple_setop_standalone(_o, args))
    out = _rewrite_call(out, "DS_TUPLE_DOUBLES", _tuple_standalone)
    # theta sketch set-op compositions (SketchSetPostAggregator
    # analog): exact distinct SETS as the sketch state —
    # DS_THETA builds, INTERSECT/UNION/NOT are array set ops,
    # THETA_SKETCH_ESTIMATE over a sketch expression is SIZE. A
    # THETA_SKETCH_ESTIMATE over a plain column stays a
    # count-distinct shorthand (handled below with the other
    # APPROX names).
    out = _rewrite_call(out, "THETA_SKETCH_ESTIMATE_WITH_ERROR_BOUNDS",
                        _theta_bounds)
    out = _rewrite_call(out, "THETA_SKETCH_ESTIMATE", _theta_estimate(exact))
    for op, fn in (("THETA_SKETCH_INTERSECT", "array_intersect"),
                   ("THETA_SKETCH_UNION", "array_union"),
                   ("THETA_SKETCH_NOT", "array_except")):
        out = _rewrite_call(out, op, _theta_setop(fn))
    out = _rewrite_call(
        out, "DS_THETA",
        lambda a: f"collect_set(CAST({a[0]} AS STRING))")
    # Datasketches quantiles finalizer family over
    # DS_QUANTILES_SKETCH(col[, k]) inner builds
    # (DoublesSketchToQuantile/ToQuantiles/ToHistogram/ToCDF/ToRank
    # post-aggregator analogs) — exact aggregate expressions
    out = _rewrite_call(out, "DS_GET_QUANTILES", _ds_get_quantiles)
    out = _rewrite_call(out, "DS_HISTOGRAM", _ds_histogram)
    out = _rewrite_call(out, "DS_CDF", _ds_cdf)
    out = _rewrite_call(out, "DS_RANK", _ds_rank)
    # Druid ARRAY_PREPEND(value, arr) — Spark's builtin is (arr, value);
    # swap the args (see register.py module note). A numeric/boolean
    # literal prepended onto a STRING-element array coerces to its
    # string form (Calcite leastRestrictive — qaArray
    # array_prepend(9, a_str) = ['9', ...]).
    def _scalar_to_elem(scalar: str, arr: str) -> str:
        s = scalar.strip()
        is_num = re.fullmatch(r"[-+]?\d+(\.\d+)?", s)
        is_bool = re.fullmatch(r"(?i)TRUE|FALSE", s)
        a = arr.strip()
        elems = _schema().array_elem
        et = elems.get(a, "").split("(")[0].lower()
        if not et:
            # json_value(... RETURNING t array) rewrites carry the
            # element type in their FROM_JSON schema literal (qaArray
            # ops_funcs_array_funcs array_prepend(9, json_value(...
            # RETURNING bigint array)) keeps LONG). The EXISTS
            # type-probe always uses array<string>, so any OTHER
            # schema is the RETURNING element type.
            types = {t.lower() for t in re.findall(
                r"(?i)'array<(\w+)[^']*'", a)} - {"string"}
            if len(types) == 1:
                et = types.pop()
            elif (re.fullmatch(r"'(?:[^']|'')*'", a)
                    or re.search(r"(?i)ARRAY<STRING>|'array<string>'"
                                 r"|\bSPLIT\s*\(|\bSTRING_TO_", a)):
                et = "string"
        if et in ("string", "varchar", "char"):
            if is_bool:
                # booleans are longs in the reference's arrays (1/0)
                return "'1'" if s.upper() == "TRUE" else "'0'"
            if is_num:
                return f"'{s}'"
            # a numeric COLUMN joins a string array through its string
            # form too (Calcite leastRestrictive — qaUnnest
            # mv_sql_array_funcs array_prepend(c_long, 'Z') = [0, Z])
            st = _schema().scalar_types.get(
                re.sub(r"^[A-Za-z_]\w*\.", "", s), "").split(
                "(")[0].lower()
            if st and st not in ("string", "varchar", "char", "text"):
                return f"CAST({s} AS STRING)"
            return scalar
        if (et in ("bigint", "long", "int", "integer", "smallint",
                   "tinyint")
                and is_num and "." not in s):
            return f"CAST({s} AS BIGINT)"
        if et in ("double", "float", "real", "decimal") and is_num:
            return f"CAST({s} AS DOUBLE)"
        return scalar

    def _arrish(x: str) -> str:
        # a quoted-string scalar in the ARRAY position is the 1-elem
        # MVD it implies (mv_sql_array_funcs: array_prepend(c, 'Z')
        # prepends onto ['Z'])
        if re.fullmatch(r"'(?:[^']|'')*'", x.strip()):
            return f"ARRAY({x})"
        return x

    out = _rewrite_call(
        out, "ARRAY_PREPEND",
        lambda a: (f"array_prepend({_arrish(a[1])}, "
                   f"{_scalar_to_elem(_d_suffix_literal(a[0]), a[1])})")
        if len(a) == 2 else None)
    # decimal-literal second args type as DECIMAL and fail Spark's
    # exact element-type check against array<double>; numeric literals
    # appended to string arrays coerce like ARRAY_PREPEND above
    def _array_append_call(a):
        if len(a) != 2:
            return None
        v = _scalar_to_elem(_d_suffix_literal(a[1]), a[0])
        arr = _arrish(a[0])
        if v == a[1].strip() and arr == a[0]:
            return None
        return f"array_append({arr}, {v})"

    out = _rewrite_call(out, "ARRAY_APPEND", _array_append_call)
    # approx count-distinct shorthands: exact mode (the oracle contract)
    # computes the true distinct; sketch mode builds a real Datasketches
    # HLL and estimates — bounded, mergeable, ~1.6% RSE at lgK=12. The
    # theta-named form also maps to HLL here (same estimate semantics;
    # set-op workflows go through the native-query theta path).
    for name in ("APPROX_COUNT_DISTINCT_DS_HLL",
                 "APPROX_COUNT_DISTINCT_DS_THETA",
                 "APPROX_COUNT_DISTINCT_BUILTIN",
                 # plain Calcite spelling (AggregatorsModule HLL default)
                 "APPROX_COUNT_DISTINCT"):
        if _CTX.get().hllc_parity and name in (
                "APPROX_COUNT_DISTINCT_BUILTIN", "APPROX_COUNT_DISTINCT"):
            # the EXPLICIT spellings are always approximate in the
            # reference — useApproximateCountDistinct governs only
            # COUNT(DISTINCT) conversion (the qaSql aggr_general
            # A10/A11 goldens pin collector estimates under `!set
            # useApproximateCountDistinct false`). In parity mode
            # estimate through the reference-exact HyperLogLogCollector
            # reproduction (functions/hllc.py) so the estimate VALUES
            # match bit-for-bit.
            out = _rewrite_call(
                out, name,
                lambda args: "druid_hllc_est(SORT_ARRAY(COLLECT_SET("
                "druid_hllc_bp(CAST(" + args[0] + " AS STRING)))))")
        elif exact:
            out = re.sub(rf"\b{name}\(", "COUNT(DISTINCT ", out,
                         flags=re.IGNORECASE)
        else:
            out = _rewrite_call(
                out, name,
                lambda args: "hll_sketch_estimate(hll_sketch_agg("
                + _hll_parity_input(args[0]) + ", 12))")
    for name in ("APPROX_QUANTILE_DS", "APPROX_QUANTILE_FIXED_BUCKETS",
                 "APPROX_QUANTILE", "DS_GET_QUANTILE",
                 # extension quantile families: t-digest
                 # (extensions-contrib/tdigestsketch) and
                 # spectator-histogram percentiles — same contract,
                 # same exact/sketch compilation
                 "TDIGEST_QUANTILE", "SPECTATOR_PERCENTILE"):
        # exact mode: true percentile (oracle-matching); sketch mode:
        # Datasketches KLL via Spark's native functions (r13 — see
        # _quantile_call). Strips a DS_QUANTILES_SKETCH(col[, k])
        # wrapper and trailing tuning args (k / bucket bounds).
        out = _rewrite_call(
            out, name,
            _quantile_call("PERCENTILE" if exact else "KLL"))
    # string / array aggregates. The builder handles the reference's
    # full StringSqlAggregator surface (sql/.../aggregation/builtin/
    # StringSqlAggregator.java, quidem qaAggFuncs/string_agg_*): an
    # optional trailing maxSizeBytes is accepted and dropped (Spark
    # strings are unbounded), and TIMESTAMP arguments stringify as
    # epoch millis (timestamps are longs in the native layer — the
    # string_agg_timestamp golden files pin '1577840461000', not ISO).
    out = _rewrite_call(out, "TIME_IN_INTERVAL", _time_in_interval)
    for _hr in _HR_LADDERS:
        out = _rewrite_call(out, _hr, _human_readable(_hr))
    out = _rewrite_call(out, "CAST", _cast_ts_bigint)
    out = _rewrite_call(out, "CAST", _cast_to_timestamp)
    out = _cap_string_aggs(out)
    out = _rewrite_call(out, "STRING_AGG", _string_agg_call)
    out = re.sub(r"\bSTRING_AGG\(", "LISTAGG(", out, flags=re.IGNORECASE)
    # ArraySqlAggregator: same optional maxSizeBytes + millis contract
    # (qaAggFuncs/array_agg_timestamp_*)
    out = _rewrite_call_unless_windowed(out, "ARRAY_AGG", _array_agg_call)
    # windowed form first: FLATTEN must wrap OUTSIDE the window
    # expression (flatten(collect_list(x) OVER w)) — Spark rejects
    # non-window exprs inside a window function slot
    # (drill druid_queries/array_concat_agg)
    out = _rewrite_windowed_array_concat_agg(out)
    # balanced-paren rewrite: the argument is often itself a call
    # (ARRAY_CONCAT_AGG(STRING_TO_ARRAY(x, '-'))). Zero non-null
    # inputs → NULL, not [] (reference ArrayConcatSqlAggregator —
    # qaArray agg_funcs FILLER batteries pin the blank), which
    # COLLECT_LIST alone can't express (it skips nulls silently).
    def _concat_agg_call(args):
        if not args:
            return None
        pre, expr = _split_distinct(args[0])
        if pre:
            # DISTINCT concat folds through the reference's
            # array_set_add_all: an ELEMENT set, sorted ascending with
            # null first (qaArray ops_funcs_agg_funcs B30 batteries
            # pin [null, 1, 2] across differently-ordered input rows)
            return (f"IF(COUNT({expr}) = 0, NULL, SORT_ARRAY("
                    f"ARRAY_DISTINCT(FLATTEN(COLLECT_LIST({expr}))), "
                    f"TRUE))")
        return (f"IF(COUNT({expr}) = 0, NULL, "
                f"FLATTEN(COLLECT_LIST({expr})))")

    out = _rewrite_call(out, "ARRAY_CONCAT_AGG", _concat_agg_call)
    # Calcite OFFSET n ROWS / FETCH NEXT|FIRST n ROWS ONLY paging →
    # Spark's LIMIT/OFFSET clauses (Spark accepts LIMIT before OFFSET;
    # swap when Calcite's OFFSET-first order is used)
    out = re.sub(
        r"\bOFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:NEXT|FIRST)\s+(\d+)\s+ROWS?\s+ONLY\b",
        r"LIMIT \2 OFFSET \1", out, flags=re.IGNORECASE)
    out = re.sub(r"\bFETCH\s+(?:NEXT|FIRST)\s+(\d+)\s+ROWS?\s+ONLY\b",
                 r"LIMIT \1", out, flags=re.IGNORECASE)
    out = re.sub(r"\bOFFSET\s+(\d+)\s+ROWS\b", r"OFFSET \1", out,
                 flags=re.IGNORECASE)
    # Calcite FLOOR/CEIL(ts TO unit) time-truncation forms
    # (reference: sql/.../expression/builtin/TimeFloorOperatorConversion
    # handles both spellings) → TIME_FLOOR/TIME_CEIL periods; numeric
    # FLOOR/CEIL calls (no trailing TO unit) pass through untouched.
    out = _rewrite_call(out, "FLOOR", _floor_ceil_to("TIME_FLOOR"))
    out = _rewrite_call(out, "CEIL", _floor_ceil_to("TIME_CEIL"))
    # session timezone (SET sqlTimeZone): make it the explicit tz of
    # every tz-less time operator BEFORE the fixed-arity rewrites
    if tz and tz not in ("UTC", "Etc/UTC", "+00:00", "Z"):
        out = _apply_session_tz(out, tz)
    # LOOKUP 3-arg replaceMissingValueWith form
    # (QueryLookupOperatorConversion.java): missing keys take the
    # replacement value
    out = _rewrite_call(
        out, "LOOKUP",
        lambda a: f"COALESCE(LOOKUP({a[0]}, {a[1]}), {a[2]})"
        if len(a) == 3 else None)
    # Calcite DIV(x, y): integer division
    out = _rewrite_call(
        out, "DIV", lambda a: f"(CAST({a[0]} AS BIGINT) DIV CAST({a[1]} AS BIGINT))"
        if len(a) == 2 else None)
    # EXTRACT units Spark lacks (ISODOW/EPOCH/ISOYEAR/DECADE/CENTURY/
    # MILLENNIUM) or defines differently (DOW: Spark is Sunday=0,
    # Druid's TimestampExtractExprMacro is joda Monday=1..Sunday=7)
    # route through the TIME_EXTRACT shim; standard units stay native
    out = _rewrite_call(out, "EXTRACT", _extract_special)
    # Druid TIME_* optional-argument forms → the fixed-arity shims
    out = _rewrite_call(out, "TIME_PARSE", _time_parse)
    out = _rewrite_call(out, "TIME_EXTRACT", _time_extract_tz)
    out = _rewrite_call(out, "TIME_FLOOR", _time_floor_ceil("TIME_FLOOR"))
    out = _rewrite_call(out, "TIME_CEIL", _time_floor_ceil("TIME_CEIL"))
    out = _rewrite_call(out, "TIME_SHIFT", _time_shift_tz)
    # multi-arg GROUPING(a, b, ...) (Calcite/Druid spelling) is Spark's
    # GROUPING_ID; 1-arg GROUPING stays native
    out = _rewrite_call(
        out, "GROUPING",
        lambda args: (f"GROUPING_ID({', '.join(args)})"
                      if len(args) > 1 else None))
    # Druid LTRIM/RTRIM(expr, chars) vs Spark's deprecated 2-arg
    # (trimStr, str) REVERSED argument order — rewrite to the
    # unambiguous TRIM(LEADING/TRAILING chars FROM expr) form
    # (sql-functions.md LTRIM/RTRIM)
    out = _rewrite_call(
        out, "LTRIM",
        lambda args: (f"TRIM(LEADING {args[1]} FROM {args[0]})"
                      if len(args) == 2 else None))
    out = _rewrite_call(
        out, "RTRIM",
        lambda args: (f"TRIM(TRAILING {args[1]} FROM {args[0]})"
                      if len(args) == 2 else None))
    # 3-arg TIME_FORMAT(ts, pattern, tz) — format in the given zone
    # (TimeFormatOperatorConversion); 1-arg defaults to ISO8601
    # (TimestampFormatExprMacro null-format arm — qaSql
    # scalar_datetime time_format(__time) batteries)
    out = _rewrite_call(
        out, "TIME_FORMAT",
        lambda args: (f"TIME_FORMAT(FROM_UTC_TIMESTAMP({args[0]}, "
                      f"{args[2]}), {args[1]})"
                      if len(args) == 3 else
                      (f"TIME_FORMAT({args[0]}, "
                       f"'yyyy-MM-dd''T''HH:mm:ss.SSS''Z''')"
                       if len(args) == 1 else None)))
    # variadic STRING_FORMAT → Spark's format_string, with Druid's
    # non-strict degradation (Function.java:2807 →
    # StringUtils.nonStrictFormat:381): an IllegalFormatException —
    # statically detectable when a literal format has more specifiers
    # than args — degrades to `fmt; arg1; arg2...`; zero args return
    # the format untouched. Druid has no DECIMAL type, so bare decimal
    # literal args format as DOUBLE (%.2f of 123.4 must not see
    # Spark's DECIMAL(4,1)).
    def string_format_build(args):
        if not args:
            return None
        fmt = args[0]
        rest = [f"CAST({a} AS DOUBLE)"
                if re.fullmatch(r"[0-9]+\.[0-9]+", a) else a
                for a in args[1:]]
        if not rest:
            return f"({fmt})"
        if re.fullmatch(r"'[^']*'", fmt):
            n_spec = len(re.findall(r"%(?!%)", fmt[1:-1]))
            if len(rest) < n_spec:  # nonStrictFormat fallback
                parts = [fmt] + [f"'; ', CAST({a} AS STRING)"
                                 for a in rest]
                return "CONCAT(" + ", ".join(parts) + ")"
        return "FORMAT_STRING(" + ", ".join([fmt] + rest) + ")"

    out = _rewrite_call(out, "STRING_FORMAT", string_format_build)
    # Druid semantics for REPEAT (count<1 → NULL) and LEFT/RIGHT
    # (negative length errors) — Spark won't let a SQL UDF shadow a
    # builtin, so route to the DRUID_-prefixed UDFs (register.py)
    out = _rewrite_call(
        out, "REPEAT",
        lambda args: (f"DRUID_REPEAT({args[0]}, {args[1]})"
                      if len(args) == 2 else None))
    out = _rewrite_call(
        out, "LEFT",
        lambda args: (f"DRUID_LEFT({args[0]}, {args[1]})"
                      if len(args) == 2 else None))
    out = _rewrite_call(
        out, "RIGHT",
        lambda args: (f"DRUID_RIGHT({args[0]}, {args[1]})"
                      if len(args) == 2 else None))
    # 1-arg PARSE_LONG defaults to radix 10
    out = _add_default_arg(out, "PARSE_LONG", "10")
    # Druid TRUNC (numeric) → TRUNCATE (Spark's trunc builtin is
    # date-only and can't be replaced); then default digits to 0 for
    # the 1-arg form
    out = re.sub(r"\bTRUNC\(", "TRUNCATE(", out, flags=re.IGNORECASE)
    out = _add_default_arg(out, "TRUNCATE", "0")  # 1-arg → digits 0
    # Druid LN/LOG10/SQRT are Java Math semantics (Function.java
    # DoubleUnivariateMathFunction): log(0) = -Infinity, log(neg) /
    # sqrt(neg) = NaN — Spark returns NULL for all of those. qaUnnest
    # mv_sql_scalar_numeric_funcs A1_B6/B7 pin log10(0) = -Infinity
    # surviving a <> filter. Registered shims in register.py.
    out = re.sub(r"\bLN\(", "DRUID_LN(", out, flags=re.IGNORECASE)
    out = re.sub(r"\bLOG10\(", "DRUID_LOG10(", out, flags=re.IGNORECASE)
    out = re.sub(r"\bSQRT\(", "DRUID_SQRT(", out, flags=re.IGNORECASE)
    # `col IN (true)` where col is a STRING dimension: Druid ingests
    # booleans as the strings 'true'/'false' in legacy schemas and
    # Calcite coerces the comparison; Spark's IN is strictly typed but
    # its `=` coerces both directions. Rewrite identifier-operand,
    # all-boolean-literal IN lists to an equality chain (drill corpus
    # first_val/lag/lead *_IN(true|false) family).
    def _bool_in(m):
        ident, neg = m.group(1), m.group(2) or ""
        lits = re.findall(r"(?i)true|false", m.group(3))
        chain = " OR ".join(f"{ident} = {v.lower()}" for v in lits)
        return (f"NOT ({chain})" if neg.strip() else f"({chain})")

    out = re.sub(
        r"(?i)\b([A-Za-z_]\w*)\s+(NOT\s+)?IN\s*"
        r"(\(\s*(?:true|false)(?:\s*,\s*(?:true|false))*\s*\))",
        _bool_in, out)
    if re.search(r"(?i)\bOVER\b", out):
        out = _normalize_window_frames(out)
        out = _firstlast_unordered_frames(out)
    out = _inject_window_order(out)
    # GROUP BY over an MVD column EXPLODES the dim (Druid groupBy on
    # a multi-value dimension emits one group per element — the
    # classic "exploded" MVD grouping; mv_sql_group_by goldens:
    # GROUP BY c_mv_all_null_and_empty_val → one group per element,
    # null MVD → a null group). Typed ARRAY columns group by VALUE
    # and are untouched. Conservative: single bare-table FROM.
    _mvds = _schema().mvd_cols
    if _mvds and re.search(r"(?is)\bGROUP\s+BY\b", out):
        _kwm = _scan_top_kw(out, ["FROM", "WHERE", "GROUP BY",
                                  "HAVING", "ORDER BY", "LIMIT",
                                  "OFFSET", "WINDOW", "UNION",
                                  "INTERSECT", "EXCEPT"])
        if ("GROUP BY" in _kwm and "FROM" in _kwm
                and not any(k in _kwm for k in
                            ("UNION", "INTERSECT", "EXCEPT"))):
            _gb_end = min((_kwm[k] for k in ("HAVING", "WINDOW",
                                             "ORDER BY", "LIMIT",
                                             "OFFSET") if k in _kwm),
                          default=len(out))
            _gb = out[_kwm["GROUP BY"] + 8:_gb_end]
            _used = [c for c in sorted(_mvds)
                     if re.search(rf"(?i)(?<![\w.]){c}\b", _gb)]
            _from_end = _kwm.get("WHERE", _kwm["GROUP BY"])
            _fseg = out[_kwm["FROM"] + 4:_from_end].strip()
            if _used and re.fullmatch(r"[A-Za-z_]\w*", _fseg):
                # Druid filters ROWS first (a scalar predicate on an
                # MVD matches if ANY element matches) and THEN
                # explodes every element of the surviving rows — the
                # documented MVD grouping gotcha (WHERE c_mv = 'x'
                # GROUP BY c_mv emits the non-'x' groups too). Push
                # the WHERE below the LATERAL VIEW, rewriting scalar
                # predicates over the exploded dims to any-element
                # forms.
                _inner_src = _fseg
                _where_tail = out[_from_end:]
                if "WHERE" in _kwm:
                    _w = out[_kwm["WHERE"] + 5:_kwm["GROUP BY"]].strip()
                    # Split on top-level AND and push below the
                    # LATERAL VIEW only the conjuncts the any-element
                    # rewriter fully handled (or that don't touch the
                    # exploded dims at all). An unconverted predicate
                    # like UPPER(c_mv) = 'X' references the raw array
                    # below the explode and fails Spark analysis —
                    # those stay above, element-level against the
                    # exploded scalar.
                    _push, _keep = [], []
                    for _cj in _split_top_and(_w):
                        _r = _cj
                        for _c in _used:
                            _r = _mvd_any_element_predicates(_r, _c)
                        _stripped = re.sub(
                            r"(?is)\b(?:ARRAY_CONTAINS|ARRAYS_OVERLAP"
                            r"|EXISTS)\s*\(\s*(?:[A-Za-z_]\w*\.)?"
                            r"(?:" + "|".join(map(re.escape, _used))
                            + r")\s*,", "(", _r)
                        if any(re.search(
                                rf"(?is)(?<![\w.]){re.escape(_c)}\b",
                                _stripped) for _c in _used):
                            _keep.append(_cj)
                        else:
                            _push.append(_r)
                    if _push:
                        _inner_src = (f"(SELECT * FROM {_fseg} WHERE "
                                      + " AND ".join(_push)
                                      + f") {_fseg}")
                    if _keep:
                        _where_tail = ("WHERE "
                                       + " AND ".join(_keep) + " "
                                       + out[_kwm["GROUP BY"]:])
                    else:
                        _where_tail = out[_kwm["GROUP BY"]:]
                _lvs = " ".join(
                    f"LATERAL VIEW OUTER EXPLODE({c}) __mvt{i} "
                    f"AS __mvg{i}" for i, c in enumerate(_used))
                _sub = ("(SELECT * EXCEPT ("
                        + ", ".join(_used) + "), "
                        + ", ".join(f"__mvg{i} AS {c}"
                                    for i, c in enumerate(_used))
                        + f" FROM {_inner_src} {_lvs}) {_fseg}")
                out = (out[:_kwm["FROM"]] + "FROM " + _sub + " "
                       + _where_tail)
    # Scalar predicates over MVD columns in ANY remaining WHERE
    # segment (no GROUP-BY explode involved) still follow the
    # reference's any-element filter semantics — a selector on a
    # multi-value dimension matches when ANY element matches
    # (docs/querying/multi-value-dimensions.md; CalciteJoinQueryTest
    # testJoinOnTimeseriesWithFloorOnTime: WHERE dim3 = 'b' inside a
    # grouped subquery). Spark types the MVD array<string>, so the
    # raw comparison would fail analysis.
    if _mvds and re.search(r"(?is)\bWHERE\b", out):
        _segs = []
        for _wm in re.finditer(r"(?i)\bWHERE\b", out):
            _i, _d = _wm.end(), 0
            _kw = re.compile(r"(?is)\b(GROUP|HAVING|ORDER|WINDOW|LIMIT"
                             r"|OFFSET|UNION|INTERSECT|EXCEPT)\b")
            while _i < len(out):
                ch = out[_i]
                if ch in "'\"":
                    _i = _skip_string(out, _i)
                elif ch in "([":
                    _d += 1
                elif ch in ")]":
                    _d -= 1
                    if _d < 0:
                        break
                elif _d == 0 and ch.isalpha():
                    _m2 = _kw.match(out, _i)
                    if _m2:
                        break
                    while _i + 1 < len(out) and (out[_i + 1].isalnum()
                                                 or out[_i + 1] == "_"):
                        _i += 1
                _i += 1
            _segs.append((_wm.end(), _i))
        for _s, _e in reversed(_segs):
            _w = out[_s:_e]
            for _c in sorted(_mvds):
                if re.search(rf"(?i)(?<![\w.]){re.escape(_c)}\b", _w):
                    _w = _mvd_any_element_predicates(_w, _c)
            out = out[:_s] + _w + out[_e:]
    # Calcite dedupes duplicate SELECT * output names with a 0 suffix
    # (test_unnest.s_int + u(s_int) -> second column "s_int0",
    # qaUnnest array_sql_col_general A1_B9); rename the unnest alias
    # column when the query references the suffixed name. ONLY when a
    # `(SELECT * ...)` subquery materializes the renamed column —
    # Calcite renames during star expansion; a direct FROM-level
    # `s_int0` reference is "not found in any table"
    # (array_sql_col_general A1_B5/B12 !error).
    if re.search(r"(?is)\(\s*SELECT\s+\*", out):
        for _m in list(re.finditer(
                r"(?is)\bAS\s+(\w+)\s*\(\s*(\w+)\s*\)", out)):
            _ucol = _m.group(2)
            if (_ucol in _schema().scalar_cols
                    or _ucol in _schema().array_elem) and \
                    re.search(rf"(?i)\b{_ucol}0\b", out):
                out = (out[:_m.start()]
                       + f"AS {_m.group(1)}({_ucol}0)" + out[_m.end():])
                break
    # a parenthesized join group containing UNNEST can't host Spark's
    # LATERAL VIEW — strip the (pure-join, non-subquery) parens so the
    # unnest-then-join path rewrites to a LATERAL subquery instead
    # (qaUnnest array_sql_join A7: (t1 CROSS JOIN unnest(..)) JOIN t2)
    while True:
        _fm = re.search(r"(?is)\bFROM\s*\(", out)
        if not _fm:
            break
        _close = _find_spec_end(out, _fm.end())
        _inner = out[_fm.end():_close]
        if re.match(r"(?is)\s*SELECT\b", _inner) or \
                not re.search(r"(?is)\bUNNEST\s*\(", _inner) or \
                not re.search(r"(?is)\bJOIN\b", _inner):
            break
        out = out[:_fm.start()] + "FROM " + _inner + out[_close + 1:]
    out = _unnest_elem_semantics(out)
    out = _rewrite_unnest_join(out)
    out = _rewrite_unnest(out)
    out = _rewrite_unnest_from(out)
    # array functions over an UNNEST output column: the element is a
    # scalar, and Druid's array family auto-wraps string scalars as
    # 1-element arrays (qaUnnest mv_sql_array_funcs: array_length(c)
    # = 1). The unnest aliases are known statically from the rewrites.
    ucols = set(re.findall(
        r"(?i)LATERAL VIEW EXPLODE(?:_OUTER)?\(.*?\) \w+ AS (\w+)", out))
    # unnest alias → its SOURCE array expression, for aggregations
    # whose tie-breaks depend on element order (see the MIN_BY/MAX_BY
    # rewrite below)
    usrc = {m.group(2): m.group(1) for m in re.finditer(
        r"(?i)LATERAL VIEW EXPLODE(?:_OUTER)?\((.*?)\) \w+ AS (\w+)",
        out)}
    # TIMESTAMP probe args of the array search family millisify: the
    # arrays collect native-layer millis (ARRAY_AGG(__time) → longs),
    # so a TIMESTAMP literal/`__time` probe must compare as millis too
    # (qaAggFuncs array_agg_timestamp array_offset_of batteries)
    def _ts_probe_millis(a):
        if len(a) >= 2 and _is_ts_expr(a[1]):
            aa = list(a)
            aa[1] = f"CAST(UNIX_MILLIS({aa[1]}) AS STRING)"
            return "__DS_TSPROBE__(" + ", ".join(aa) + ")"
        return None

    for _fn in ("ARRAY_OFFSET_OF", "ARRAY_ORDINAL_OF", "ARRAY_CONTAINS",
                "MV_OFFSET_OF", "MV_ORDINAL_OF", "MV_CONTAINS"):
        out = _rewrite_call(out, _fn, _ts_probe_millis)
        out = out.replace("__DS_TSPROBE__(", f"{_fn}(")
    ucols |= set(re.findall(
        r"(?i)\(SELECT EXPLODE(?:_OUTER)?\(.*?\) AS (\w+)\)", out))
    # known scalar table columns wrap too — minus any name the query
    # re-binds as an alias (it may name an array-valued expression)
    ucols |= (_schema().scalar_cols
              - set(re.findall(r"(?i)\bAS\s+(\w+)", out)))
    # aliases DEFINED by a string-producing array render are scalar
    # strings in the enclosing scope, so the array family auto-wraps
    # them like any other scalar (qaAggFuncs array_agg_long_test004
    # A18: array_to_string(col, '|') over col = array_to_string(...))
    _a2s = re.compile(r"(?i)\b(?:ARRAY_TO_STRING|MV_TO_STRING)\s*\(")
    _p0 = 0
    while True:
        _am = _a2s.search(out, _p0)
        if not _am:
            break
        _j = _find_spec_end(out, _am.end())
        _asm = re.match(r"(?is)\s+AS\s+(\w+)", out[_j + 1:])
        if _asm:
            ucols.add(_asm.group(1))
        _p0 = _am.end()
    if ucols:
        # EARLIEST/LATEST (rewritten to MIN_BY/MAX_BY(x, ts) upstream)
        # over an UNNEST element: every exploded element of a row
        # shares the row's __time, so the reference's first/last-
        # scanned tie-break resolves to the FIRST/LAST ELEMENT of the
        # extremal row's array (StringFirstAggregator scan order over
        # the unnest datasource — qaUnnest mv_sql_agg_funcs B18/B20
        # C8 pin EARLIEST(c) = the leading null). Spark's min_by has
        # no deterministic tie-break, so aggregate the ARRAY by time
        # and index into it.
        # ...but NOT when the element itself is a grouping key (GROUP
        # BY c: every row in the group IS that element — B18/B22 C7
        # pin the per-element earliest)
        _gb_aliases = set()
        for _gbm in re.finditer(r"(?is)\bGROUP\s+BY\s+([^()]*?)"
                                r"(?=\bHAVING\b|\bORDER\b|\bLIMIT\b"
                                r"|\bWINDOW\b|\)|$)", out):
            for _gi in _gbm.group(1).split(","):
                _gb_aliases.add(_gi.strip().lower())

        def _by_elem(mf, idx):
            def b(args):
                if len(args) != 2:
                    return None
                c = args[0].strip()
                src = usrc.get(c)
                if (src is None or c.lower() in _gb_aliases
                        or re.search(rf"(?i)(?<![\w.]){re.escape(c)}\b",
                                     args[1])):
                    return None
                return (f"ELEMENT_AT({mf}({src}, {args[1]}), {idx})")
            return b
        out = _rewrite_call(out, "MIN_BY", _by_elem("MIN_BY", 1))
        out = _rewrite_call(out, "MAX_BY", _by_elem("MAX_BY", -1))

        # MVD-PUBLISHING functions over a scalar input return the
        # scalar itself, not a 1-element array: the reference's
        # ARRAY_TO_MV / MV_FILTER_* publish VARCHAR (an MVD), so a
        # scalar input round-trips as a scalar and downstream scalar
        # comparisons type-check (qaUnnest mv_sql_array_funcs
        # A1_B15: array_to_mv(c) IN ('1','2') — and a NON-string
        # scalar has no MVD form at all, so it maps to NULL:
        # array_to_mv(c_long) <> 'ABCD' matches 0 rows).
        def _scalar_mv_direct(fn):
            def b(args):
                c = args[0].strip()
                if c not in ucols:
                    return None
                st = _schema().scalar_types.get(c, "string").split(
                    "(")[0].lower()
                # schema-discovered ("auto") numerics stringify like
                # strings; only DECLARED numeric dims null out
                stringy = (st in ("string", "varchar", "char", "text")
                           or c in _schema().auto_scalar_cols)
                # '' has no MVD element form (empty strings normalize
                # to null at the MVD layer — multi-value-dimensions
                # docs; mv_sql_array_funcs A1_B15_C1 pins
                # array_to_mv('') excluded from IN ('', ...))
                if fn == "ARRAY_TO_MV":
                    if len(args) != 1:
                        return None
                    return (f"NULLIF(CAST({c} AS STRING), '')"
                            if stringy else "CAST(NULL AS STRING)")
                if len(args) != 2 or not stringy:
                    return None
                probe = (f"ARRAY_CONTAINS({args[1]}, "
                         f"CAST({c} AS STRING))")
                if fn == "MV_FILTER_ONLY":
                    return f"(CASE WHEN {probe} THEN NULLIF({c}, '') END)"
                return f"(CASE WHEN NOT {probe} THEN NULLIF({c}, '') END)"
            return b
        for _mvfn in ("ARRAY_TO_MV", "MV_FILTER_ONLY", "MV_FILTER_NONE"):
            out = _rewrite_call(out, _mvfn, _scalar_mv_direct(_mvfn))

        # TO_JSON_STRING over a KNOWN scalar STRING jackson-serializes
        # the VALUE — always quoted, never re-parsed as JSON text
        # (ToJsonStringExpr; qaUnnest mv_sql_json_funcs A1_B8_C1 pins
        # to_json_string('1') = '"1"' and '""' for the empty string).
        # The generic string UDF can't see the input TYPE, so only
        # catalog/unnest-typed scalars take this path.
        def _tjs_scalar(args):
            if len(args) != 1:
                return None
            c = args[0].strip()
            # JSON-text columns are stored as strings but serialize
            # as STRUCTURE through the generic UDF, not as quoted
            # values (to_json_string(a_nested) = the canonical text)
            if c not in ucols or c in _schema().json_cols \
                    or c in _schema().declared_json_cols:
                return None
            st = _schema().scalar_types.get(c, "string").split(
                "(")[0].lower()
            if st not in ("string", "varchar", "char", "text"):
                return None
            return (f"IF({c} IS NULL, NULL, "
                    f"SUBSTRING(TO_JSON(ARRAY({c})), 2, "
                    f"LENGTH(TO_JSON(ARRAY({c}))) - 2))")
        out = _rewrite_call(out, "TO_JSON_STRING", _tjs_scalar)

        # GREATEST/LEAST over mixed string/numeric operands: Calcite
        # resolves leastRestrictive(VARCHAR, BIGINT) = VARCHAR and
        # compares lexicographically (qaUnnest
        # mv_sql_scalar_reduction_funcs greatest(c, c_long, '1'));
        # Spark requires one type, so cast the numeric operands.
        def _mixed_minmax(fname):
            def b(args):
                if len(args) < 2:
                    return None
                kinds = []
                for x in args:
                    x = x.strip()
                    if re.fullmatch(r"'(?:[^']|'')*'", x):
                        # literal strings coerce toward numeric
                        # operands (Calcite character-literal
                        # coercion) — only COLUMN strings force the
                        # VARCHAR comparison
                        kinds.append("strlit")
                    elif re.fullmatch(r"[-+]?\d+(\.\d+)?", x):
                        kinds.append("num")
                    else:
                        base = re.sub(r"^[A-Za-z_]\w*\.", "", x)
                        t = _schema().scalar_types.get(base, "").split(
                            "(")[0].lower()
                        if not t and base in usrc:
                            # unnest element: type from its SOURCE
                            # array (mv_to_array/string arrays →
                            # string; typed arrays keep their
                            # numeric element type)
                            src = usrc[base].strip()
                            et = _schema().array_elem.get(
                                src, "").split("(")[0].lower()
                            if not et:
                                jt = {w.lower() for w in re.findall(
                                    r"(?i)'array<(\w+)[^']*'", src)} \
                                    - {"string"}
                                if len(jt) == 1:
                                    et = jt.pop()
                                elif re.search(
                                        r"(?i)\bSPLIT\s*\(|\bSTRING_TO_"
                                        r"|ARRAY<STRING>", src):
                                    et = "string"
                            # MVD sources explode through a null-row
                            # IF wrapper — match the column by name
                            if not et and any(
                                    re.search(rf"(?<![\w.])"
                                              rf"{re.escape(mc)}\b", src)
                                    for mc in _schema().mvd_cols):
                                et = "string"
                            t = et
                        elif not t and base in ucols:
                            t = "string"  # bare scalar string col
                        if t in ("string", "varchar", "char", "text"):
                            kinds.append("string")
                        elif t in ("bigint", "int", "integer",
                                   "smallint", "tinyint", "long",
                                   "double", "float", "real",
                                   "decimal"):
                            kinds.append("num")
                        else:
                            return None
                if "string" in kinds and "num" in kinds:
                    na = [x if k in ("string", "strlit")
                          else f"CAST({x} AS STRING)"
                          for x, k in zip(args, kinds)]
                    return f"{fname}({', '.join(na)})"
                return None
            return b
        for _mm in ("GREATEST", "LEAST"):
            out = _rewrite_call(out, _mm, _mixed_minmax(_mm))

        def _scalar_unnest_wrap(idx):
            def b(args):
                if idx < len(args) and args[idx].strip() in ucols:
                    c = args[idx].strip()
                    a = list(args)
                    a[idx] = f"IF({c} IS NULL, NULL, ARRAY({c}))"
                    return "__UNW__(" + ", ".join(a) + ")"
                return None
            return b
        for fn, idx in (("ARRAY_LENGTH", 0), ("ARRAY_OFFSET", 0),
                        ("ARRAY_ORDINAL", 0), ("ARRAY_OFFSET_OF", 0),
                        ("ARRAY_ORDINAL_OF", 0), ("ARRAY_TO_STRING", 0),
                        ("ARRAY_CONTAINS", 0), ("ARRAY_OVERLAP", 0),
                        ("ARRAY_OVERLAP", 1), ("ARRAY_APPEND", 0),
                        # ARRAY_PREPEND already swapped to Spark's
                        # (arr, value) order by the earlier rewrite
                        ("ARRAY_PREPEND", 0), ("ARRAY_TO_MV", 0),
                        ("ARRAY_CONCAT", 0),
                        ("ARRAY_CONCAT", 1), ("ARRAY_SLICE", 0),
                        ("MV_LENGTH", 0), ("MV_OFFSET", 0),
                        ("MV_ORDINAL", 0), ("MV_OFFSET_OF", 0),
                        ("MV_ORDINAL_OF", 0), ("MV_TO_STRING", 0),
                        ("MV_SLICE", 0), ("MV_FILTER_ONLY", 0),
                        ("MV_FILTER_NONE", 0), ("MV_FILTER_PREFIX", 0),
                        ("MV_FILTER_REGEX", 0), ("MV_CONTAINS", 0),
                        ("MV_OVERLAP", 0), ("MV_OVERLAP", 1),
                        ("MV_APPEND", 0), ("MV_PREPEND", 1),
                        ("MV_CONCAT", 0), ("MV_CONCAT", 1)):
            out = _rewrite_call(out, fn, _scalar_unnest_wrap(idx))
            out = out.replace("__UNW__(", f"{fn}(")
    # Druid ARRAY_CONTAINS(arr, arr2) is subset-containment; Spark's
    # builtin only takes a scalar needle. Either form is TWO-valued
    # (Function.java ArrayContainsFunction): NULL only when the array
    # itself is null; a no-match with null elements present is FALSE
    # (Spark says NULL there), and a NULL needle tests for a null
    # element (Java List.contains(null)).
    def _array_contains_call(args):
        if len(args) != 2:
            return None
        a, e = args
        e = _d_suffix_literal(e)
        if _is_ts_expr(e):
            # timestamps live as long millis in every array this
            # engine builds (ARRAY_AGG millis contract)
            e = f"UNIX_MILLIS({e})"
        # membership via EXISTS + `=` (not the array_contains builtin):
        # `=` applies Spark's binary coercions, so a cross-typed probe
        # compares instead of failing analysis the way the builtin's
        # exact element-type check does (array_contains(a_str, 1) —
        # Druid casts the probe)
        if re.match(r"(?is)^\s*(ARRAY\s*[\[(]|STRING_TO_ARRAY\s*\("
                    r"|MV_TO_ARRAY\s*\()", e):
            return (f"IF(({a}) IS NULL, NULL, IF(({e}) IS NULL, FALSE, "
                    f"forall({e}, __acx -> CASE WHEN __acx IS NULL THEN "
                    f"EXISTS({a}, __acy -> __acy IS NULL) ELSE "
                    f"COALESCE(EXISTS({a}, __acy -> __acy = __acx), "
                    f"FALSE) END)))")
        return (f"CASE WHEN ({a}) IS NULL THEN NULL "
                f"WHEN ({e}) IS NULL THEN "
                f"EXISTS({a}, __acy -> __acy IS NULL) "
                f"ELSE COALESCE(EXISTS({a}, __acy -> __acy = ({e})), "
                f"FALSE) END")

    out = _rewrite_call(out, "ARRAY_CONTAINS", _array_contains_call)

    # ARRAY_OVERLAP / MV_OVERLAP: same two-valued contract (null only
    # for a null operand; null elements match null elements), and an
    # inline rewrite keeps native element types (the UDF fallback
    # coerces through ARRAY<STRING>)
    def _array_overlap_call(args):
        if len(args) != 2:
            return None
        a, b = args
        return (f"IF(({a}) IS NULL OR ({b}) IS NULL, NULL, "
                f"EXISTS({b}, __aox -> CASE WHEN __aox IS NULL THEN "
                f"EXISTS({a}, __aoy -> __aoy IS NULL) ELSE "
                f"COALESCE(EXISTS({a}, __aoy -> __aoy = __aox), "
                f"FALSE) END))")

    out = _rewrite_call(out, "ARRAY_OVERLAP", _array_overlap_call)

    # MV_OVERLAP / MV_CONTAINS are the VARCHAR-family spellings
    # (MultiValueStringOperatorConversions): operands coerce through
    # ARRAY<STRING>.  MV_OVERLAP plans like an IN filter — standard
    # three-valued (no match with a null element present = NULL:
    # qaArray mv_overlap(a_str, ARRAY[1]) goldens), while MV_CONTAINS
    # stays two-valued like ARRAY_CONTAINS (mv_contains(a_float, 1) =
    # false).
    def _mv_harmonize(a: str) -> str:
        # mv_harmonize_nulls (MultiValueStringOperatorConversions):
        # a null or empty MVD reads as the single-null MVD [null]
        return (f"IF(({a}) IS NULL OR "
                f"SIZE(CAST({a} AS ARRAY<STRING>)) = 0, "
                f"ARRAY(CAST(NULL AS STRING)), "
                f"CAST({a} AS ARRAY<STRING>))")

    def _mv_overlap_call(args):
        # exact MvOverlapFunction semantics (Function.java:4289):
        # A = mv_harmonize_nulls(a) (null/empty -> [null]); B = b cast
        # to string array (null -> null).  B null -> containsNull(A)
        # as a strict boolean; B empty -> false; null-safe overlap ->
        # true; no overlap with null in A but none in B -> NULL;
        # else false.  (qaUnnest mv_funcs A1_B7 batteries: the
        # (null,null) pair is TRUE, (x,null) is contains-null, and
        # (null,x) no-match is NULL.)
        if len(args) != 2:
            return None
        a, b = args
        A = _mv_harmonize(a)
        B = f"CAST({b} AS ARRAY<STRING>)"
        cnA = f"EXISTS({A}, __mvy -> __mvy IS NULL)"
        cnB = f"EXISTS({B}, __mvx -> __mvx IS NULL)"
        ov = (f"EXISTS({A}, __mvy -> CASE WHEN __mvy IS NULL THEN "
              f"{cnB} ELSE COALESCE(__sac({B}, __mvy), FALSE) END)")
        return (f"CASE WHEN ({B}) IS NULL THEN {cnA} "
                f"WHEN SIZE({B}) = 0 THEN FALSE "
                f"WHEN COALESCE({ov}, FALSE) THEN TRUE "
                f"WHEN NOT {cnB} AND {cnA} THEN CAST(NULL AS BOOLEAN) "
                f"ELSE FALSE END")

    def _mv_contains_call(args):
        if len(args) != 2:
            return None
        a, e = args
        A = _mv_harmonize(a)
        if re.match(r"(?is)^\s*(ARRAY\s*[\[(]|STRING_TO_ARRAY\s*\("
                    r"|MV_TO_ARRAY\s*\()", e):
            # MvContainsFunction: a null probe array reads as
            # contains-null(A); an EMPTY probe array is TRUE
            E = f"CAST({e} AS ARRAY<STRING>)"
            return (f"IF(({E}) IS NULL, "
                    f"EXISTS({A}, __acy -> __acy IS NULL), "
                    f"forall({E}, __acx -> CASE WHEN __acx IS NULL THEN "
                    f"EXISTS({A}, __acy -> __acy IS NULL) ELSE "
                    f"COALESCE(__sac({A}, __acx), FALSE) END))")
        E = f"CAST({e} AS STRING)"
        return (f"CASE WHEN ({E}) IS NULL THEN "
                f"EXISTS({A}, __acy -> __acy IS NULL) "
                f"ELSE COALESCE(__sac({A}, {E}), FALSE) END")

    out = _rewrite_call(out, "MV_OVERLAP", _mv_overlap_call)
    out = _rewrite_call(out, "MV_CONTAINS", _mv_contains_call)
    out = out.replace("__sac(", "array_contains(")
    # Calcite ARRAY[...] constructor → Spark array(...). Innermost-first
    # so nested ARRAY[ARRAY[1], ARRAY[2]] rewrites cleanly; the inner
    # pattern is bracket-free, so repetition terminates. String
    # literals are masked first — a JSONPath literal like
    # '$.array[-1]' must not match (testJsonPathNegativeIndex).
    pat = re.compile(r"\bARRAY\s*\[([^\[\]]*)\]", flags=re.IGNORECASE)
    if pat.search(out):
        masked, _lits = _mask_local(out)

        def _array_ctor(m):
            # Druid numeric literals with a decimal point are DOUBLE;
            # Spark's DECIMAL(p,s) elements fail exact-type checks
            # against double arrays (qaArray E00 matrices)
            inner = re.sub(r"(?<![\w.])(\d+\.\d+)(?![\w.eE])", r"\1D",
                           m.group(1))
            # TIMESTAMP literals in arrays are long millis (Druid
            # timestamps ARE longs; ARRAY_AGG(__time) collects millis)
            inner = re.sub(r"(?i)\bTIMESTAMP\s+(\x00\d+\x00)",
                           r"UNIX_MILLIS(TIMESTAMP \1)", inner)
            return f"array({inner})"

        while pat.search(masked):
            masked = pat.sub(_array_ctor, masked)
        out = _unmask_local(masked, _lits)

    # ARRAY-RETURNING alias UDFs inline to their builtins. NOT a
    # style choice: Spark 4.1's analyzer mis-inlines a SQL UDF whose
    # arguments contain AGGREGATES when a higher-order function wraps
    # the call — the HOF is silently dropped or returns garbage
    # (array_sort(ARRAY_CONCAT(ARRAY_AGG(..), ..)) came back
    # unsorted; transform(...) returned all NULLs). Scalar UDFs over
    # aggregates compose fine; only array-returning results feed
    # HOFs, so inlining exactly these removes the hazard. Regression:
    # tests/test_sql_layer.py::test_hof_over_udf_of_aggregates.
    for fname, builder in (
        ("ARRAY_CONCAT",
         lambda a: f"CONCAT({a[0]}, {a[1]})" if len(a) == 2 else None),
        # an EMPTY concat result keeps its empty-array value — the
        # interactive engine renders it '[]', dart/msq render blank
        # (qaArray ops_funcs_mv_funcs.06 std-vs-dart/msq goldens; the
        # harness accepts both renders of an empty MVD)
        ("MV_CONCAT",
         lambda a: f"CONCAT(CAST({a[0]} AS ARRAY<STRING>), "
         f"CAST({a[1]} AS ARRAY<STRING>))" if len(a) == 2 else None),
        # MV append/prepend/concat coerce through ARRAY<STRING> (the
        # MVD family type; mixed-type inputs error in Spark otherwise)
        ("MV_APPEND",
         lambda a: (f"ARRAY_APPEND(CAST({a[0]} AS ARRAY<STRING>), "
                    f"{_mv_elem_coerce(a[1], a[0])})")
         if len(a) == 2 else None),
        ("MV_PREPEND",
         lambda a: (f"ARRAY_PREPEND(CAST({a[1]} AS ARRAY<STRING>), "
                    f"{_mv_elem_coerce(a[0], a[1])})")
         if len(a) == 2 else None),
        ("ARRAY_SLICE", _array_slice_call),
        ("MV_SLICE", _array_slice_call),
        ("MV_TO_ARRAY",
         lambda a: f"({a[0]})" if len(a) == 1 else None),
        # ARRAY_TO_MV is a pure type-cast marker — the value passes
        # through, and an empty ARRAY renders '[]'
        # (MultiValueStringOperatorConversions; qaArray
        # ops_funcs_array_funcs.07 array_to_mv(a_empty) = '[]')
        ("ARRAY_TO_MV",
         lambda a: f"({a[0]})" if len(a) == 1 else None),
        # regex separator + Java trailing-empty trim (see register.py
        # STRING_TO_ARRAY note)
        ("STRING_TO_ARRAY",
         lambda a: _java_split(a[0], a[1]) if len(a) == 2 else None),
        ("STRING_TO_MV",
         lambda a: _java_split(a[0], a[1]) if len(a) == 2 else None),
        # MV_FILTER_*: an empty survivor set is a NULL MVD in the
        # reference (ListFilteredVirtualColumn — CalciteMultiValueString-
        # QueryTest pins {null, 4} groups and MV_LENGTH(null)=null, round
        # 7), hence the NULLIF-empty wrap; still pure builtins
        ("MV_FILTER_ONLY",
         lambda a: "NULLIF(FILTER(" + a[0] + ", x -> ARRAY_CONTAINS("
         + a[1] + ", x)), CAST(ARRAY() AS ARRAY<STRING>))"
         if len(a) == 2 else None),
        ("MV_FILTER_NONE",
         lambda a: "NULLIF(FILTER(" + a[0] + ", x -> NOT ARRAY_CONTAINS("
         + a[1] + ", x)), CAST(ARRAY() AS ARRAY<STRING>))"
         if len(a) == 2 else None),
        ("MV_FILTER_PREFIX",
         lambda a: "NULLIF(FILTER(" + a[0] + ", x -> STARTSWITH(x, "
         + a[1] + ")), CAST(ARRAY() AS ARRAY<STRING>))"
         if len(a) == 2 else None),
        ("MV_FILTER_REGEX",
         lambda a: "NULLIF(FILTER(" + a[0] + ", x -> x RLIKE " + a[1]
         + "), CAST(ARRAY() AS ARRAY<STRING>))"
         if len(a) == 2 else None),
    ):
        out = _rewrite_call(out, fname, builder)
    # TIME_PARSE(expr, 'pattern') — the reference's 2-arg Joda-pattern
    # form (TimeParseOperatorConversion); the registered 1-arg UDF
    # handles ISO strings, the 2-arg literal-pattern form maps to
    # Spark's TO_TIMESTAMP (JDK patterns match Joda for the common
    # y/M/d/H/m/s letters)
    out = re.sub(
        rf"\bTIME_PARSE\(\s*([^,()]+?)\s*,\s*('[^']*'|{_PH})\s*\)",
        lambda m: f"TO_TIMESTAMP({m.group(1)}, {m.group(2)})",
        out, flags=re.IGNORECASE)
    # Calcite POSITION(needle IN haystack FROM start) — Spark only
    # parses the 2-arg form; the FROM variant maps to LOCATE.
    # Balanced-paren via _rewrite_call: the haystack is often itself a
    # call with commas (position('1' IN string_agg(x, '|') FROM 2) —
    # qaAggFuncs string_agg batteries), then a top-level depth scan
    # splits IN / FROM.
    def _position_from_call(a):
        if len(a) != 1:
            return None
        s = a[0]
        depth = 0
        in_at = from_at = None
        i = 0
        while i < len(s):
            ch = s[i]
            if ch in "'\"":
                i = _skip_string(s, i)
            elif ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif depth == 0:
                m_in = re.match(r"(?i)\sIN\s", s[i:i + 4])
                m_from = re.match(r"(?i)\sFROM\s", s[i:i + 6])
                if m_in and in_at is None:
                    in_at = i
                elif m_from:
                    from_at = i
            i += 1
        if in_at is None or from_at is None or from_at <= in_at:
            return None
        needle = s[:in_at].strip()
        hay = s[in_at + 4:from_at].strip()
        start = s[from_at + 6:].strip()
        return f"LOCATE({needle}, {hay}, {start})"

    out = _rewrite_call(out, "POSITION", _position_from_call)
    # Druid REGEXP_EXTRACT defaults to group 0 and yields NULL on no
    # match (RegexpExtractExprMacro); Spark defaults to group 1 and
    # yields '' — in BOTH arities (round 7: the 3-arg no-match ''
    # leaked through a <> filter, CalciteQueryTest:8436). NULLIF-wrap
    # both. Balanced-paren (the haystack may be an aggregate call);
    # __DS_REX__ placeholder because _rewrite_call rescans its own
    # replacement (resolved at end of rewrite).
    # no-match -> NULL, but a MATCHED empty group stays '' in the
    # reference's SQL-compatible mode (RegexpExtractExprMacro returns
    # the group verbatim; qaUnnest mv_sql_scalar_string_funcs A1_B12
    # pins regexp_extract('', '.*') = '' surviving a <> filter) —
    # Spark returns '' for BOTH, so gate on RLIKE instead of NULLIF
    out = _rewrite_call(
        out, "REGEXP_EXTRACT",
        lambda a: ("CASE WHEN %s RLIKE %s THEN __DS_REX__(%s, %s, %s)"
                   " END" % (
                       a[0], a[1], a[0], a[1],
                       a[2] if len(a) == 3 else "0"))
        if len(a) in (2, 3) else None)

    # Druid SUBSTRING/SUBSTR behaves like SubstringDimExtractionFn,
    # not SQL SUBSTRING (Function.java:2884-2897): a start index at or
    # past the string's end returns NULL, not '' — substring('', 1)
    # and substring('abc', 4) are both null (qaUnnest
    # mv_sql_scalar_string_funcs A1_B18/A1_B21, testUnnestExtractionFn:
    # the '' MVD element must be DROPPED by substring(c,1) <> 'x').
    # __DS_SUBSTR__ placeholder: _rewrite_call rescans its replacement.
    def _substr_guard(a):
        if len(a) not in (2, 3):
            return None
        rest = f", {a[2]}" if len(a) == 3 else ""
        return (f"CASE WHEN ({a[1]}) <= CHAR_LENGTH({a[0]}) "
                f"THEN __DS_SUBSTR__({a[0]}, {a[1]}{rest}) END")

    out = _rewrite_call(out, "SUBSTRING", _substr_guard)
    out = _rewrite_call(out, "SUBSTR", _substr_guard)

    # LPAD/RPAD (reference LpadFunc/RpadFunc + StringUtils.lpad,
    # Function.java:3115): len=0 → NULL, len<0 → '', base longer than
    # len truncates to the FIRST len chars, an EMPTY pad string
    # returns the base unpadded (the Calcite 2-arg SQL form passes ''
    # — qaAggFuncs lpad(x, 20) stays unpadded), NULL pad → NULL.
    def _pad_call(which):
        fn = f"__DS_{which}PAD__"

        def b(a):
            if len(a) == 2:
                x, n = a
                return (f"CASE WHEN ({n}) = 0 THEN NULL"
                        f" WHEN ({n}) < 0 THEN ''"
                        f" WHEN LENGTH({x}) >= ({n})"
                        f" THEN SUBSTRING({x}, 1, {n})"
                        f" ELSE {x} END")
            if len(a) == 3:
                x, n, p = a
                return (f"CASE WHEN ({p}) IS NULL OR ({n}) = 0"
                        f" THEN NULL"
                        f" WHEN ({n}) < 0 THEN ''"
                        f" WHEN LENGTH({x}) >= ({n})"
                        f" THEN SUBSTRING({x}, 1, {n})"
                        f" WHEN ({p}) = '' THEN {x}"
                        f" ELSE {fn}({x}, {n}, {p}) END")
            return None
        return b

    out = _rewrite_call(out, "LPAD", _pad_call("L"))
    out = _rewrite_call(out, "RPAD", _pad_call("R"))
    # JSON_OBJECT (NestedDataExpressions.java:53): variadic k/v pairs,
    # Calcite also allows JSON_OBJECT(KEY 'k' VALUE v, ...). Rewrite to
    # TO_JSON(NAMED_STRUCT('k', v, ...)) — keys must be literals, which
    # is also the reference's common form.
    def _split_top_args(s):
        parts, depth, start = [], 0, 0
        for i, ch in enumerate(s):
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(s[start:i].strip())
                start = i + 1
        parts.append(s[start:].strip())
        return parts

    def _json_object_struct(args):
        flat = []
        for a in args:
            m = re.match(r"(?is)^KEY\s+(.+?)\s+VALUE\s+(.+)$", a)
            if not m:
                # Calcite's other form: JSON_OBJECT('k': v, ...)
                m = re.match(r"(?is)^('(?:[^']|'')*')\s*:\s*(.+)$", a)
            if m:
                flat.extend([m.group(1), m.group(2)])
            else:
                flat.append(a)
        if len(flat) % 2 or not flat:
            return None
        # a nested JSON_OBJECT value becomes a nested NAMED_STRUCT (not
        # a to_json'd string) so the outer serialization yields a real
        # nested JSON object, matching the reference's variant nesting
        for j in range(1, len(flat), 2):
            v = flat[j]
            if re.match(r"(?is)^JSON_OBJECT\s*\(.*\)$", v):
                nested = _json_object_struct(
                    _split_top_args(v[v.index("(") + 1:v.rindex(")")]))
                if nested is not None:
                    flat[j] = nested
                    continue
            # a COMPLEX<json> column value embeds as STRUCTURE, not as
            # its JSON-text string ({"a":{}} not {"a":"{}"} —
            # qaJsonCols func_json_object c_empty_obj goldens); the
            # variant round-trip re-parses the stored text. Placeholder
            # name: the PARSE_JSON text-render pass must not re-wrap
            # this internal variant (resolved at end of rewrite).
            if ((v.strip() in _schema().json_cols
                    # variant ARRAY columns share the json_cols hint
                    # store but are REAL arrays — they embed natively
                    # as JSON arrays, not via text re-parse (qaArray
                    # ops_funcs_json_funcs json_object(KEY 'k' VALUE
                    # a_mixed) = {"k":["true","1",...]})
                    and v.strip() not in _schema().variant_array_cols
                    and v.strip() not in _schema().real_array_cols
                    and v.strip() not in _schema().array_elem)
                    or re.match(r"(?is)^(JSON_QUERY|PARSE_JSON|"
                                r"TRY_PARSE_JSON|TO_JSON_STRING)\s*\("
                                r".*\)$", v.strip())):
                # JSON-text-producing expressions embed as structure
                # too (json_object('a': json_query(c1,'$.a_obj')) —
                # qaJsonCols func_json_object nested goldens)
                flat[j] = f"__DS_TPJ__({v})"
            elif _is_ts_expr(v):
                # timestamps embed as native-layer millis longs
                # (same convention as JSON_VALUE/JSON_QUERY ts args)
                flat[j] = f"UNIX_MILLIS({v})"
        return f"NAMED_STRUCT({', '.join(flat)})"

    def _top_colon_split(a):
        """Split 'keyexpr : valexpr' at the first depth-0 colon
        outside string literals (args arrive unmasked — a ':' inside
        a literal must not split)."""
        depth = i = 0
        while i < len(a):
            ch = a[i]
            if ch == "'":
                i = _skip_string(a, i)
            elif ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == ":" and depth == 0:
                return a[:i].strip(), a[i + 1:].strip()
            i += 1
        return None

    def _json_object_flat(args):
        # EXPRESSION key (Calcite colon form with a computed key:
        # json_object('a'||'b':'v') — qaJsonCols func_json_object
        # A016): NAMED_STRUCT needs literal names, so expression keys
        # serialize through a MAP instead
        if len(args) == 1:
            kv = _top_colon_split(args[0])
            if kv and not re.fullmatch(r"'(?:[^']|'')*'", kv[0]) \
                    and not re.match(r"(?is)^KEY\s", args[0]):
                # a NON-STRING key type is a validation error in the
                # reference ("field name must be a STRING",
                # SqlJsonObjectFunction checker — qaJsonCols
                # func_json_object A022/A024/A028/A030/A034 !error):
                # numeric/boolean literal expressions reject; string
                # EXPRESSIONS (A016 'a'||'b') stay legal via MAP
                _k = kv[0].strip()
                _kbase = re.sub(r"^[A-Za-z_]\w*\.", "", _k).lower()
                _ktype = _schema().scalar_types.get(
                    _kbase, "").split("(")[0].lower()
                _nonstr = (
                    re.fullmatch(r"(?is)(?:[\d.+\-*/%()\s]+|TRUE|"
                                 r"FALSE)", _k)
                    or re.fullmatch(r"(?is)CURRENT_TIMESTAMP|"
                                    r"CURRENT_DATE|__time", _k)
                    or (_ktype and _ktype not in
                        ("varchar", "string", "char", "text"))
                    or _kbase in {c.lower()
                                  for c in _schema().json_cols}
                    or re.fullmatch(r"(?is)\([^']*(?:=|<|>)[^']*\)",
                                    _k))
                if _nonstr:
                    return ("CAST(RAISE_ERROR('field name must be a "
                            "STRING') AS STRING)")
                return (f"TO_JSON(MAP({kv[0]}, {kv[1]}), "
                        f"MAP('ignoreNullFields', 'false'))")
        ns = _json_object_struct(args)
        if ns is None:
            return None
        # null values are KEPT as JSON nulls (NestedDataExpressions
        # json_object; qaJsonCols func_json_object: {"a":null}) —
        # Spark's to_json drops them without the option
        return f"TO_JSON({ns}, MAP('ignoreNullFields', 'false'))"

    out = _rewrite_call(out, "JSON_OBJECT", _json_object_flat)

    # JSON_QUERY over a TIMESTAMP first arg reads the native-layer
    # long (millis), same as JSON_VALUE above (qaJsonCols
    # funcs_and_sql_func_json_query goldens)
    def _json_query_ts(args):
        if len(args) == 2 and _is_ts_expr(args[0]):
            return (f"JSON_QUERY(CAST(UNIX_MILLIS({args[0]}) "
                    f"AS STRING), {args[1]})")
        return None

    out = _rewrite_call(out, "JSON_QUERY", _json_query_ts)

    # COMPLEX-vs-COMPLEX comparison: two JSON_QUERY results compare
    # through the reference's structured-data comparator, which only
    # orders NUMBERS by value — strings and containers are
    # incomparable → NULL (qaJsonCols func_json_query A165 object
    # path = 0, A166 string leaf 'A'='A' = 0, but A167 number leaf
    # 1 = 1 counts 2). A DOUBLE cast of the rendered leaf reproduces
    # that exactly: numeric leaves compare, everything else casts
    # NULL and the comparison stays NULL.
    pat_jqcmp = re.compile(r"(?is)\bJSON_QUERY\s*\(", re.IGNORECASE)
    pos_jq = 0
    while True:
        m = pat_jqcmp.search(out, pos_jq)
        if not m:
            break
        end1 = _find_spec_end(out, m.end())
        m2 = re.match(r"\s*(=|<>|!=|<=|>=|<|>)\s*(JSON_QUERY)\s*\(",
                      out[end1 + 1:], re.IGNORECASE)
        if not m2:
            pos_jq = m.end()
            continue
        end2 = _find_spec_end(out, end1 + 1 + m2.end())
        lhs = out[m.start():end1 + 1]
        rhs = out[end1 + 1 + m2.start(2):end2 + 1]
        rep = (f"(CAST({lhs} AS DOUBLE) {m2.group(1)} "
               f"CAST({rhs} AS DOUBLE))")
        out = out[:m.start()] + rep + out[end2 + 1:]
        pos_jq = m.start() + len(rep)

    # PARSE_JSON / TRY_PARSE_JSON return COMPLEX<json>, which this
    # engine represents as canonical JSON TEXT (the same convention its
    # JSON columns use) — Spark's builtins return VARIANT, which leaks
    # VariantVal to clients, is not orderable/groupable, and rejects
    # set ops. Render: to_json(array(v)) minus the brackets keeps JSON
    # string quoting ('"日本"' stays quoted — a bare CAST AS STRING
    # strips it). Placeholder fn names (__DS_PJ__/__DS_TPJ__, resolved
    # to the builtins at the end of the rewrite) keep this pass from
    # re-wrapping its own output or JSON_OBJECT's internal variants.
    def _pj_render(name):
        def b(a):
            if len(a) != 1:
                return None
            v = f"__DS_{name}__({a[0]})"
            arr = f"to_json(array({v}))"
            return (f"CASE WHEN {v} IS NULL THEN NULL ELSE "
                    f"substring({arr}, 2, length({arr}) - 2) END")
        return b

    out = _rewrite_call(out, "TRY_PARSE_JSON", _pj_render("TPJ"))
    out = _rewrite_call(out, "PARSE_JSON", _pj_render("PJ"))

    # TO_JSON_STRING of a VARCHAR *literal* serializes the VALUE —
    # always JSON-quoted, even when the text happens to parse as JSON
    # (ToJsonStringExpr jackson-serializes the value; qaJsonCols
    # to_json_string('{}') = '"{}"'). Only literals are certainly
    # VARCHAR at this layer; JSON columns keep the parse-render path.
    def _to_json_string_lit(a):
        if len(a) != 1:
            return None
        s = a[0].strip()
        # boolean literals serialize as the reference's LONG form
        # (useStrictBooleans — to_json_string(TRUE) = '1')
        if re.fullmatch(r"(?i)TRUE", s):
            return "'1'"
        if re.fullmatch(r"(?i)FALSE", s):
            return "'0'"
        # a parenthesized COMPARISON serializes through the same long
        # form (to_json_string((1=2)) = '0' — qaJsonCols
        # func_to_json_string A017/A019), and a timestamp serializes
        # as native-layer millis (A023)
        if re.fullmatch(r"\(.*\)", s, re.DOTALL):
            inner, d, k = s[1:-1], 0, 0
            has_cmp = False
            while k < len(inner):
                ch = inner[k]
                if ch in "([":
                    d += 1
                elif ch in ")]":
                    d -= 1
                elif d == 0 and ch in "=<>":
                    has_cmp = True
                    break
                k += 1
            if has_cmp:
                return f"CAST(CAST({s} AS INT) AS STRING)"
        # a BOOLEAN-typed expression (json_value ... RETURNING boolean
        # expansion carries the cast) serializes as the long form too
        # (A019: to_json_string(json_value(s_bool, '$' RETURNING
        # boolean)) = 1)
        if re.search(r"(?is)\bAS\s+BOOLEAN\s*\)", s):
            return f"CAST(CAST({s} AS INT) AS STRING)"
        if _is_ts_expr(s):
            return f"CAST(UNIX_MILLIS({s}) AS STRING)"
        m = re.fullmatch(r"'((?:[^']|'')*)'", s)
        if not m:
            return None
        import json as _jsonmod
        quoted = _jsonmod.dumps(m.group(1).replace("''", "'"),
                                ensure_ascii=False)
        # Spark string literals are backslash-escaping by default
        # (spark.sql.parser.escapedStringLiterals=false): double the
        # backslashes json.dumps introduced, then SQL-double quotes
        return ("'" + quoted.replace("\\", "\\\\").replace("'", "''")
                + "'")

    out = _rewrite_call(out, "TO_JSON_STRING", _to_json_string_lit)
    # JSON_VALUE as a DISTINCT grouping key: a STRING grouping
    # dimension normalizes '' to null (the same normalization MVD
    # elements get — string dims have no '' form), so the empty-
    # container leaf ('' per register.py JSON_VALUE) collapses into
    # the null group (qaJsonCols func_json_value A045/A051/A052/
    # A061/A062: one blank DISTINCT row over ''+missing rows).
    if re.search(r"(?is)\bSELECT\s+DISTINCT\b.*\bJSON_VALUE\s*\(",
                 out):
        _jvp = re.compile(r"(?is)\bJSON_VALUE\s*\(")
        _dm = re.search(r"(?is)\bSELECT\s+DISTINCT\s+", out)
        if _dm:
            _fm = re.search(r"(?is)\bFROM\b", out[_dm.end():])
            _lo, _hi = _dm.end(), (_dm.end() + _fm.start()
                                   if _fm else len(out))
            _seg = out[_lo:_hi]
            _new, _pos = [], 0
            while True:
                _m = _jvp.search(_seg, _pos)
                if not _m:
                    _new.append(_seg[_pos:])
                    break
                _j = _find_spec_end(_seg, _m.end())
                _new.append(_seg[_pos:_m.start()])
                _new.append(
                    f"NULLIF({_seg[_m.start():_j + 1]}, '')")
                _pos = _j + 1
            out = out[:_lo] + "".join(_new) + out[_hi:]
            # absorb the raw '' literal into the shared mask store
            out = _mask_local(out)[0]
    # Calcite/Druid CAST type names Spark doesn't accept bare: Druid SQL
    # writes CAST(x AS VARCHAR) (sql/calcite/planner/Calcites.java type
    # mappings); Spark needs STRING (VARCHAR only with a length). Scoped
    # to "AS <type>" so identifiers are untouched.
    out = re.sub(r"(\bAS\s+)VARCHAR\b(?!\s*\()", r"\1STRING", out,
                 flags=re.IGNORECASE)
    # Calcite collection-type syntax: CAST(x AS VARCHAR ARRAY) /
    # BIGINT ARRAY / DOUBLE ARRAY (SqlTypeName + Druid's
    # sql-array-support docs). Spark spells it ARRAY<type>. Runs after
    # VARCHAR→STRING so the element name is already Spark-valid.
    out = re.sub(
        r"(?is)(\bAS\s+)(STRING|BIGINT|INT(?:EGER)?|SMALLINT|TINYINT|"
        r"DOUBLE|FLOAT|REAL|BOOLEAN|TIMESTAMP|DATE)\s+ARRAY\b",
        r"\1ARRAY<\2>", out)
    # resolve the internal variant placeholders (see the PARSE_JSON
    # text-render pass) to the Spark builtins — last, so no earlier
    # pass can re-wrap them
    # An MVD unnest output is a STRING; Calcite compares it to a
    # NUMERIC literal by casting the LITERAL to string (qaUnnest
    # mv_sql_subquery_with_where: c='' AND NOT c=999 keeps the ''
    # rows — ''=999 is FALSE there, while Spark's cast('' AS INT)
    # makes it NULL and drops the row). Quote numeric literals
    # compared against EXPLODE_OUTER (MVD) unnest aliases.
    _mv_ucols = set(re.findall(
        r"(?is)LATERAL\s+VIEW\s+EXPLODE_OUTER\(.*?\)\s+\w+\s+AS\s+(\w+)",
        out))
    _mv_ucols |= set(re.findall(
        r"(?is)LATERAL\s+\(SELECT\s+EXPLODE_OUTER\(.*?\)\s+AS\s+(\w+)\)",
        out))
    if _mv_ucols:
        masked_mu, lits_mu = _mask_local(out)
        pat_mu = re.compile(
            r"(?<![\w.])([A-Za-z_]\w*)\s*(=|<>|!=)\s*"
            r"([-+]?\d+(?:\.\d+)?)(?![\w.$])")
        masked_mu = pat_mu.sub(
            lambda m: (f"{m.group(1)} {m.group(2)} '{m.group(3)}'"
                       if m.group(1) in _mv_ucols else m.group(0)),
            masked_mu)
        pat_mu2 = re.compile(
            r"(?<![\w.$])([-+]?\d+(?:\.\d+)?)\s*(=|<>|!=)\s*"
            r"([A-Za-z_]\w*)(?![\w.(])")
        masked_mu = pat_mu2.sub(
            lambda m: (f"'{m.group(1)}' {m.group(2)} {m.group(3)}"
                       if m.group(3) in _mv_ucols else m.group(0)),
            masked_mu)
        if ctx is not None:
            masked_mu = ctx.mask(masked_mu)  # absorb emitted quotes
        out = _unmask_local(masked_mu, lits_mu)

    # TIME_* over a NUMERIC column is a validation error in the
    # reference (Calcite: Cannot apply 'TIME_SHIFT' to <BIGINT> —
    # qaUnnest/qaArray scalar_datetime !error batteries); Spark would
    # implicitly cast the number as epoch SECONDS and silently
    # mis-answer. Known numeric scalar columns reject at runtime.
    _tf_types = {"TIME_FLOOR": "TIMESTAMP", "TIME_CEIL": "TIMESTAMP",
                 "TIME_SHIFT": "TIMESTAMP", "TIME_EXTRACT": "BIGINT",
                 "TIME_FORMAT": "STRING", "TIME_PARSE": "TIMESTAMP",
                 "TIMESTAMP_TO_MILLIS": "BIGINT"}
    _num_t = {"bigint", "int", "smallint", "tinyint", "double",
              "float", "long", "integer", "decimal"}

    # numeric UNNEST outputs reject too: the alias of an exploded
    # numeric array (a_int, RETURNING bigint/double array) is a
    # number the reference's validator refuses in TIME_* slots
    _num_ucols: set = set()
    _long_ucols: set = set()  # LONG-element aliases: integer division
    for _um in re.finditer(r"(?is)\bEXPLODE(?:_OUTER)?\(", out):
        _uend = _find_spec_end(out, _um.end())
        _uexpr = out[_um.end():_uend].strip()
        _tm = re.match(r"(?is)\s+(?:(\w+)\s+)?AS\s+(\w+)",
                       out[_uend + 1:])
        if not _tm:
            continue
        _ucol = _tm.group(2)
        et = _schema().array_elem.get(_uexpr, "").split("(")[0]
        _uexpr_u = ctx.unmask(_uexpr) if ctx else _uexpr
        if (et in _num_t
                or re.search(r"(?i)'array<(bigint|int|double|float)>'",
                             _uexpr_u)):
            _num_ucols.add(_ucol)
        if (et in ("bigint", "int", "smallint", "tinyint", "long",
                   "integer")
                or re.search(r"(?i)'array<(bigint|int)>'", _uexpr_u)):
            _long_ucols.add(_ucol)

    # names (re)defined as aliases in this statement may shadow a
    # table column of the same name — never reject on those (false
    # rejection is worse than letting Spark's analyzer decide);
    # numeric-unnest aliases are the deliberate exception
    _alias_defs = _statement_aliases(out)

    def _time_numeric_guard(fn, rt):
        def b(a):
            if not a:
                return None
            x = a[0].strip()
            t = _schema().scalar_types.get(x, "")
            if x in _num_ucols and not t:
                t = "BIGINT"
            elif t and x.lower() in _alias_defs:
                return None
            if t.split("(")[0].lower() in _num_t:
                return (f"CAST(RAISE_ERROR('Cannot apply ''{fn}'' to "
                        f"arguments of type ''{t.upper()}''') AS {rt})")
            return None
        return b

    if _schema().scalar_types or _num_ucols:
        for _tfn, _trt in _tf_types.items():
            out = _rewrite_call(out, _tfn, _time_numeric_guard(_tfn, _trt))

    # `/` over two LONG operands is INTEGER division in the reference
    # (native long arithmetic — qaUnnest array_sql_ops A1_B4: (c/s_int)
    # over unnested bigints yields 0/1/1/2); Spark's `/` always
    # promotes to double. Rewrite only when BOTH sides are provably
    # long: a long-typed scalar column or a numeric-unnest alias.
    _longs = {c for c, t in _schema().scalar_types.items()
              if t.split("(")[0].lower() in ("bigint", "long", "int",
                                             "integer", "smallint",
                                             "tinyint")} | _long_ucols
    if _longs:
        # a CAST to an integer type is provably long no matter what
        # it wraps (qaUnnest mv_sql_scalar_numeric B36_C4:
        # safe_divide(cast(c AS int), c_long) divides as longs)
        _lpat = "|".join(re.escape(c) for c in sorted(_longs))
        _lpat += (r"|CAST\s*\([^()]*(?:\([^()]*\)[^()]*)*\s+AS\s+"
                  r"(?:INT|INTEGER|BIGINT|SMALLINT|TINYINT)\s*\)")
        if "/" in out:
            # Match the FULL multiplicative chain of long operands so
            # `a/b/c` keeps long semantics throughout, and refuse when
            # the chain is preceded by a same-precedence operator
            # (`1.0 * a / b` left-associates as `(1.0 * a) / b` —
            # floating division in the reference, not `1.0 * (a DIV b)`).
            _chain_pat = (rf"(?is)(?<![\w.])({_lpat})"
                          rf"((?:\s*[*/%]\s*(?:{_lpat})(?![\w.]))+)")

            def _div_chain(m):
                s, i = m.string, m.start() - 1
                while i >= 0 and s[i] in " \t\r\n":
                    i -= 1
                if i >= 0 and s[i] in "*/%":
                    return m.group(0)
                if "/" not in m.group(2):
                    return m.group(0)
                return ("(" + m.group(1)
                        + m.group(2).replace("/", " DIV ") + ")")

            out = re.sub(_chain_pat, _div_chain, out)
        # SAFE_DIVIDE over two longs uses long division too
        # (SafeDivideExprMacro; the registered SQL UDF is monomorphic
        # DOUBLE, so the long case specializes here)
        out = re.sub(
            rf"(?is)\bSAFE_DIVIDE\s*\(\s*({_lpat})\s*,\s*({_lpat})"
            rf"\s*\)",
            r"(CASE WHEN \2 = 0 THEN NULL ELSE \1 DIV \2 END)", out)

    # GROUPING(expr..) without GROUPING SETS/ROLLUP/CUBE: Calcite
    # evaluates it to 0 over a plain GROUP BY (every listed dim is
    # grouped); Spark rejects it outside grouping-set queries
    # (qaArray agg_funcs grouping batteries)
    if not re.search(r"(?is)\b(GROUPING\s+SETS|ROLLUP|CUBE)\b", out) \
            and re.search(r"(?is)\bGROUP\s+BY\b", out):
        # plain GROUP BY: every listed dim is grouped -> constant 0.
        # With NO GROUP BY Calcite rejects GROUPING ("may only occur
        # in an aggregate query") and Spark does too - leave it.
        out = _rewrite_call(out, "GROUPING", lambda a: "0" if a else None)
    # Calcite's niladic PI (SELECT pi) — Spark requires the call form;
    # only when no column of that name exists
    if ("pi" not in _schema().scalar_cols
            and re.search(r"(?i)(?<![\w.$'])pi(?![\w(])", out)):
        masked_pi, lits_pi = _mask_local(out)

        def _pi_sub(m):
            # leave alias positions (`AS pi`) alone
            if re.search(r"(?i)\bAS\s*$", masked_pi[:m.start()]):
                return m.group(0)
            return "PI()"

        masked_pi = re.sub(r"(?i)(?<![\w.$])pi(?![\w(])", _pi_sub,
                           masked_pi)
        out = _unmask_local(masked_pi, lits_pi)
    # the DISTINCT string_agg default ordering yields to an explicit
    # user WITHIN GROUP immediately following the call; the
    # string-cast markers resolve per-call to match
    pos_wg = 0
    while True:
        iwg = out.find("__DS_WG__(", pos_wg)
        if iwg < 0:
            break
        end_wg = _find_spec_end(out, iwg + len("__DS_WG__("))
        call_at = out.rfind("LISTAGG(", 0, iwg)
        if re.match(r"\s*WITHIN\s+GROUP\b", out[end_wg + 1:],
                    re.IGNORECASE):
            # user clause wins: drop ours, input stays RAW so Spark's
            # DISTINCT/ordering identity check passes
            seg = (out[call_at:iwg].replace("__DS_CS__", "")
                   .replace("__DS_CE__", ""))
            out = out[:call_at] + seg + out[end_wg + 1:]
            pos_wg = call_at
        else:
            seg = (out[call_at:end_wg + 1]
                   .replace("__DS_CS__", "CAST(")
                   .replace("__DS_CE__", " AS STRING)")
                   .replace("__DS_WG__(", "WITHIN GROUP ("))
            out = out[:call_at] + seg + out[end_wg + 1:]
            pos_wg = call_at + 1
    out = out.replace("__DS_PJ__(", "parse_json(")
    out = out.replace("__DS_TPJ__(", "try_parse_json(")
    out = out.replace("__DS_REX__(", "REGEXP_EXTRACT(")
    out = out.replace("__DS_SUBSTR__(", "SUBSTRING(")
    out = out.replace("__DS_LPAD__(", "LPAD(")
    out = out.replace("__DS_RPAD__(", "RPAD(")
    return out
