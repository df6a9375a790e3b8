"""Rulepack rule operators compiled to Spark Column expressions.

Distributed re-implementation of the reference's ``CHECK_TYPES`` engine
(``src/fairy/validation/rulepack_runner.py:15-26`` and the check functions at
``:359-823``), preserving evidence shapes, status derivation, null semantics,
1-based row identity, and deterministic ordering — while executing as:

- **one fused aggregate pass per table** computing every rule's violation
  count (including unique/dup via ``count(*) - count_distinct(struct(keys))``)
  so the all-PASS case is a single scan of the table, and
- **one filtered+sorted evidence pass per *failing* rule only**
  (``orderBy(__row_id).limit(cap)``), reproducing the reference's sorted
  1-based row lists (``rulepack_runner.py:308-309,571-572``).

No per-row Python anywhere (north-rule ``input_hint``): every predicate is a
native Column expression that stays inside whole-stage codegen.

Scale notes (100 TB): the fused pass is map-side-combinable (all aggregates
are sums/counts); evidence passes are bounded by ``max_evidence_rows`` so the
driver never materializes more than a capped sample; foreign-key checks are
distinct+left-anti joins (broadcast when the right side is small).
"""

from __future__ import annotations

import os
import re as _re
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fairy_core_spark.rulepack.loader import Rule
from fairy_core_spark.sources.tables import ROW_ID

MAX_REMEDIATION_LINKS = 20  # display cap, mirrored from rulepack_runner.py:28


def _java_regex_error(regex: str) -> str | None:
    """Message if ``regex`` does not compile under java.util.regex (the
    engine rlike actually runs), else None. Best-effort: without a running
    JVM the check is skipped and a bad pattern surfaces at execution. The
    JVM is reached through the process-wide SparkContext, not
    ``SparkSession.getActiveSession()``, which is thread-local and returns
    None on a pool thread."""
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return None
        sc._jvm.java.util.regex.Pattern.compile(regex)
        return None
    except Exception as e:  # Py4JJavaError with PatternSyntaxException inside
        msg = str(getattr(e, "java_exception", None) or e)
        return msg.splitlines()[0][:500]
_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*$"  # rulepack_runner.py:31

CHECK_TYPES = {
    "dup",
    "unique",
    "enum",
    "range",
    "no_duplicate_rows",
    "foreign_key",
    "required",
    "url",
    "non_empty_trimmed",
    "regex",
}


def _status_from_severity(sev: str) -> str:
    return "FAIL" if (sev or "fail") == "fail" else "WARN"


def _column_not_found_error(column: str, columns: list[str]) -> tuple[str, dict[str, Any]]:
    """Exact parity with ``rulepack_runner.py:575-598`` (YAML '-id' hint,
    did-you-mean suggestion). Driver-side: the schema is known pre-execution."""
    available = sorted(columns)
    hint = ""
    suggestion = ""
    if len(column) >= 2 and column.startswith("-") and (column[1].isalnum() or column[1] == "_"):
        suggested_name = column.lstrip("-").strip()
        hint = f"YAML list items require a space: use '- {suggested_name}', not '{column}'."
        if suggested_name in columns:
            suggestion = suggested_name
    return "FAIL", {
        "error": "column_not_found",
        "column": column,
        "available_columns": available,
        "available_column_count": len(available),
        "hint": hint,
        "suggestion": suggestion,
    }


def _s(col: str):
    """String view of a column — reproduces the reference's string-first
    reads (dtype=str) per-rule instead of per-table (SURVEY.md §1.2)."""
    return F.col(col).cast("string")


# ---------- violation predicates (pure Column expressions) ----------


def nullish_pred(col: str):
    """isna OR strip()=='' (required-rule cell test, rulepack_runner.py:616)."""
    c = _s(col)
    return c.isNull() | (F.trim(c) == "")


def enum_pred(col: str, allow: list[Any], normalize: dict[str, Any]):
    """NaN or not-in-allow violates (rulepack_runner.py:457); normalize
    {trim, casefold} applies to values AND allow list (:424-471)."""
    c = _s(col)
    norm = normalize or {}

    def norm_expr(e):
        if norm.get("trim", False):
            e = F.trim(e)
        if norm.get("casefold", False):
            e = F.lower(e)
        return e

    def norm_val(v: Any) -> str:
        s = str(v)
        if norm.get("trim", False):
            s = s.strip()
        if norm.get("casefold", False):
            s = s.casefold()
        return s

    allow_n = [norm_val(a) for a in allow]
    return c.isNull() | ~norm_expr(c).isin(allow_n)


def range_pred(col: str, mn, mx, inclusive: bool):
    """to_numeric(errors='coerce'): non-numeric/empty → null → violation
    (rulepack_runner.py:490-506). inclusive=False uses <= / >=. try_cast is
    the ANSI-safe coerce (malformed → NULL, never a runtime error)."""
    d = _s(col).try_cast("double")
    v = d.isNull()
    if mn is not None:
        v = v | ((d < float(mn)) if inclusive else (d <= float(mn)))
    if mx is not None:
        v = v | ((d > float(mx)) if inclusive else (d >= float(mx)))
    return v


def non_empty_trimmed_pred(col: str):
    """isna OR len(strip())==0 (rulepack_runner.py:699-725)."""
    c = _s(col)
    return c.isNull() | (F.length(F.trim(c)) == 0)


def url_invalid_pred(col: str, schemes: list[str] | None):
    """Native-expression port of ``_url_syntax_ok`` (rulepack_runner.py:639-660):
    null passes; trim; 'www.' prefix → https://; scheme must match the
    scheme regex and the allow set; need netloc or path (i.e. after removing
    'scheme:' and an optional '//', something other than ?query/#fragment
    must remain)."""
    allow = [x.lower() for x in (schemes or ["http", "https"])]
    c = _s(col)
    s = F.trim(c)
    s2 = F.when(F.lower(s).startswith("www."), F.concat(F.lit("https://"), s)).otherwise(s)
    scheme = F.regexp_extract(s2, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    rest = F.regexp_replace(s2, r"^[a-zA-Z][a-zA-Z0-9+.-]*:", "")
    rest2 = F.regexp_replace(rest, r"^//", "")
    has_body = ~rest2.rlike(r"^([?#].*)?$")
    ok = (scheme != "") & F.lower(scheme).isin(allow) & has_body
    return c.isNotNull() & ~ok


def regex_pred(col: str, regex: str, mode: str, ignore_empty: bool):
    """not_matches → NOT fullmatch (anchored rlike); matches → search hits
    anywhere (rulepack_runner.py:768-793). Returns (violation, ignored)
    predicates. Java regex dialect — fixtures use the common subset."""
    c = _s(col)
    text = F.coalesce(c, F.lit(""))  # ignore_empty=False treats NA as ""
    blankish = c.isNull() | (F.trim(text) == "")
    if mode == "not_matches":
        viol = ~text.rlike(r"^(?:" + regex + r")$")
    else:
        viol = text.rlike(regex)
    if ignore_empty:
        return viol & ~blankish, blankish
    return viol, F.lit(False)


# ---------- compiled rule ----------


@dataclass
class CompiledRule:
    rule: Rule
    # immediate driver-side outcome (config/column errors)
    error: tuple[str, dict[str, Any]] | None = None
    # aliased aggregate columns for the fused pass
    agg_exprs: dict[str, Any] = field(default_factory=dict)
    # finalize(aggs, ctx) -> (status, evidence); may run evidence queries
    finalize: Callable[[dict[str, Any], "RuleContext"], tuple[str, dict[str, Any]]] | None = None


@dataclass
class RuleContext:
    df: DataFrame  # table with ROW_ID
    frames: dict[str, DataFrame]
    # driver-side evidence cap. Deliberately small (the reference caps report
    # evidence at 10/20/50 rows): a wide-failure rulepack collecting 100k rows
    # x 20 rules would pressure the driver. Full evidence is never lost — when
    # the cap is hit and evidence_out is set, the complete set is written as a
    # distributed parquet table instead (no collect).
    max_evidence_rows: int = 10_000
    evidence_out: str | None = None
    current_rule: str = ""
    input_name: str = ""
    truncated: list[str] = field(default_factory=list)

    def collect_rows(self, pred, extra_cols: list[str] | None = None) -> list[dict]:
        """Sorted, capped evidence pass: the only non-aggregate scan, run
        per failing rule only. Fetches cap+1 rows so truncation is detected
        exactly (a result of exactly cap rows is complete, not truncated);
        on overflow the full evidence is routed to the ``evidence_out``
        parquet sink, distributed."""
        cols = [F.col(ROW_ID)] + [_s(c).alias(c) for c in (extra_cols or [])]
        base = self.df.where(pred).select(*cols)
        rows = base.orderBy(ROW_ID).limit(self.max_evidence_rows + 1).collect()
        if len(rows) > self.max_evidence_rows:
            self.sink_overflow(base)
            rows = rows[: self.max_evidence_rows]
        return [r.asDict() for r in rows]

    def sink_overflow(self, full_df: DataFrame) -> None:
        """Record cap overflow for the current rule; write the complete
        evidence set executor-side when a sink is configured. The path is
        keyed by (input, rule) — the same rule can overflow on several
        inputs in one run."""
        rid = self.current_rule or "rule"
        if self.evidence_out:
            full_df.write.mode("overwrite").parquet(
                os.path.join(
                    self.evidence_out, f"input={self.input_name or 'default'}", f"rule={rid}"
                )
            )
        if rid not in self.truncated:
            self.truncated.append(rid)


def _remediation(ctx: RuleContext, pred, rows_1based: list[int], rule: Rule) -> dict | None:
    """Evidence join-back for remediation links (rulepack_runner.py:316-356):
    failing rows' URL column values, blanks/nulls dropped."""
    rem_col = rule.config.get("remediation_link_column")
    rem_label = rule.config.get("remediation_link_label")
    if not rem_col or rem_col not in ctx.df.columns:
        return None
    got = ctx.collect_rows(pred, extra_cols=[rem_col])
    by_row = {int(r[ROW_ID]): r[rem_col] for r in got}
    links = []
    for r1 in rows_1based:
        raw = by_row.get(int(r1))
        if raw is None:
            continue
        url = str(raw).strip()
        if not url:
            continue
        links.append({"row": int(r1), "url": url})
    if not links:
        return None
    out: dict[str, Any] = {"column": rem_col, "links": links}
    if rem_label:
        out["label"] = rem_label
    return out


def _rows_of(ctx: RuleContext, pred) -> list[int]:
    return [int(r[ROW_ID]) for r in ctx.collect_rows(pred)]


def _cnt(cond) -> Any:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long")


def compile_rule(
    rule: Rule, columns: list[str], frames_keys: list[str], ordinal: int = 0
) -> CompiledRule:
    """Compile one rule against a known schema. Config errors and
    column-not-found surface here (the 'analyze' stage, SURVEY.md §3)."""
    cfg = rule.config
    sev = rule.severity
    rtype = rule.type

    if rtype not in CHECK_TYPES:
        return CompiledRule(
            rule,
            error=(
                "FAIL",
                {
                    "error": "unknown_rule_type",
                    "type": rtype,
                    "message": (
                        f"Unknown rule type '{rtype}'. "
                        "This rulepack may require a newer version of fairy-core. "
                        "Please upgrade fairy-core and re-run."
                    ),
                    "supported_types": sorted(CHECK_TYPES),
                },
            ),
        )

    # ordinal disambiguates sanitized collisions ('a.b' vs 'a-b' both map
    # to a_b; a duplicate alias in the fused df.agg would make one rule
    # silently read the OTHER rule's counts via Row.asDict last-wins)
    key = f"r{ordinal}_{_re.sub('[^A-Za-z0-9_]', '_', rule.id)}"

    if rtype in ("dup", "no_duplicate_rows", "unique"):
        cols = cfg.get("keys" if rtype != "unique" else "columns", []) or []
        if not cols:
            err = "config_missing_keys" if rtype != "unique" else "config_missing_columns"
            return CompiledRule(rule, error=("FAIL", {"error": err}))
        for c in cols:
            if c not in columns:
                return CompiledRule(rule, error=_column_not_found_error(c, columns))
        # duplicated(keep='first') count == n - n_distinct(keys); a single
        # fused aggregate, no shuffle unless the rule actually fails.
        struct_cols = [_s(c).alias(c) for c in cols]
        agg = {
            key + "_n": F.count(F.lit(1)).cast("long"),
            key + "_d": F.countDistinct(F.struct(*struct_cols)).cast("long"),
        }

        def fin_dup(aggs, ctx, _cols=tuple(cols), _key=key, _rule=rule, _sev=sev):
            n_dup = int(aggs[_key + "_n"]) - int(aggs[_key + "_d"])
            if n_dup == 0:
                return "PASS", {"count": 0}
            w = Window.partitionBy(*[_s(c) for c in _cols]).orderBy(ROW_ID)
            flagged = F.row_number().over(w) > 1
            marked = ctx.df.withColumn("__is_dup", flagged)
            rows = [
                int(r[ROW_ID])
                for r in marked.where("__is_dup")
                .select(ROW_ID)
                .orderBy(ROW_ID)
                .limit(ctx.max_evidence_rows + 1)
                .collect()
            ]
            if len(rows) > ctx.max_evidence_rows:
                ctx.sink_overflow(marked.where("__is_dup").select(ROW_ID))
                rows = rows[: ctx.max_evidence_rows]
            # exact count from the fused aggregate, NOT len(rows): evidence
            # rows are capped at max_evidence_rows (a driver-safety cap the
            # pandas reference doesn't need — rulepack_runner.py:380 reports
            # len of the UNcapped list, i.e. the exact count)
            ev: dict[str, Any] = {"duplicates": [{"rows": rows}], "count": n_dup}
            rem_col = _rule.config.get("remediation_link_column")
            if rem_col and rem_col in ctx.df.columns:
                got = (
                    marked.where("__is_dup")
                    .select(F.col(ROW_ID), _s(rem_col).alias(rem_col))
                    .orderBy(ROW_ID)
                    .limit(ctx.max_evidence_rows)
                    .collect()
                )
                links = []
                for r in got:
                    raw = r[rem_col]
                    if raw is None or not str(raw).strip():
                        continue
                    links.append({"row": int(r[ROW_ID]), "url": str(raw).strip()})
                if links:
                    rem = {"column": rem_col, "links": links}
                    lbl = _rule.config.get("remediation_link_label")
                    if lbl:
                        rem["label"] = lbl
                    ev["remediation"] = rem
            return _status_from_severity(_sev), ev

        return CompiledRule(rule, agg_exprs=agg, finalize=fin_dup)

    if rtype == "required":
        cols = cfg.get("columns", []) or cfg.get("cols", []) or []
        if not cols:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_columns"}))
        missing = sorted([c for c in cols if c not in columns])
        present = [c for c in cols if c in columns]
        agg = {f"{key}_{i}": _cnt(nullish_pred(c)) for i, c in enumerate(present)}

        def fin_req(aggs, ctx, _present=tuple(present), _missing=tuple(missing), _key=key, _rule=rule, _sev=sev):
            ev: dict[str, Any] = {}
            if _missing:
                ev["missing_columns"] = list(_missing)
            bad_cols = [
                c for i, c in enumerate(_present) if int(aggs[f"{_key}_{i}"] or 0) > 0
            ]
            if bad_cols:
                # single evidence pass for all bad columns: project flags
                flags = [nullish_pred(c).alias(f"f{i}") for i, c in enumerate(bad_cols)]
                any_bad = None
                for i, _ in enumerate(bad_cols):
                    p = F.col(f"f{i}")
                    any_bad = p if any_bad is None else (any_bad | p)
                base = ctx.df.select(F.col(ROW_ID), *flags).where(any_bad)
                got = base.orderBy(ROW_ID).limit(ctx.max_evidence_rows + 1).collect()
                if len(got) > ctx.max_evidence_rows:
                    ctx.sink_overflow(base)
                    got = got[: ctx.max_evidence_rows]
                rows_by_col: dict[str, list[int]] = {c: [] for c in bad_cols}
                for r in got:
                    for i, c in enumerate(bad_cols):
                        if r[f"f{i}"]:
                            rows_by_col[c].append(int(r[ROW_ID]))
                ev["nullish"] = {
                    "columns": sorted(rows_by_col.keys()),
                    "rows_by_column": {k: v for k, v in sorted(rows_by_col.items())},
                }
                # exact flagged-cell count from the fused aggregate
                # (rulepack_runner.py:628 semantics); rows_by_column is
                # capped at max_evidence_rows, so summing it would
                # under-state large failures
                ev["count"] = int(
                    sum(
                        int(aggs[f"{_key}_{i}"] or 0)
                        for i, c in enumerate(_present)
                        if c in rows_by_col
                    )
                )
                failing_rows = sorted({r for rows in rows_by_col.values() for r in rows})
                pred = None
                for c in bad_cols:
                    p = nullish_pred(c)
                    pred = p if pred is None else (pred | p)
                rem = _remediation(ctx, pred, failing_rows, _rule)
                if rem:
                    ev["remediation"] = rem
            if ev:
                return _status_from_severity(_sev), ev
            return "PASS", {"count": 0}

        return CompiledRule(rule, agg_exprs=agg, finalize=fin_req)

    # single-column predicate rules share one skeleton
    def single_col_rule(pred, ev_builder, extra_aggs: dict | None = None):
        agg = {key: _cnt(pred)}
        agg.update(extra_aggs or {})

        def fin(aggs, ctx, _pred=pred, _key=key):
            n = int(aggs[_key] or 0)
            return ev_builder(n, aggs, ctx, _pred)

        return CompiledRule(rule, agg_exprs=agg, finalize=fin)

    if rtype == "enum":
        col = cfg.get("column")
        allow = cfg.get("allow", [])
        normalize = cfg.get("normalize", {}) or {}
        if not col:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_column"}))
        if col not in columns:
            return CompiledRule(rule, error=_column_not_found_error(col, columns))
        if not isinstance(allow, list) or not allow:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_allow"}))
        pred = enum_pred(col, allow, normalize)

        def ev_enum(n, aggs, ctx, p, _rule=rule, _sev=sev, _norm=normalize):
            if n == 0:
                return "PASS", {"normalized": bool(_norm)}
            rows = _rows_of(ctx, p)
            ev: dict[str, Any] = {"out_of_set": {"count": n, "rows": rows}}
            rem = _remediation(ctx, p, rows, _rule)
            if rem:
                ev["remediation"] = rem
            return _status_from_severity(_sev), ev

        return single_col_rule(pred, ev_enum)

    if rtype == "range":
        col = cfg.get("column")
        if not col:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_column"}))
        if col not in columns:
            return CompiledRule(rule, error=_column_not_found_error(col, columns))
        pred = range_pred(col, cfg.get("min"), cfg.get("max"), bool(cfg.get("inclusive", True)))

        def ev_range(n, aggs, ctx, p, _rule=rule, _sev=sev):
            if n == 0:
                return "PASS", {"count": 0}
            rows = _rows_of(ctx, p)
            ev: dict[str, Any] = {"out_of_bounds": {"count": n, "rows": rows}}
            rem = _remediation(ctx, p, rows, _rule)
            if rem:
                ev["remediation"] = rem
            return _status_from_severity(_sev), ev

        return single_col_rule(pred, ev_range)

    if rtype == "url":
        col = cfg.get("column")
        schemes = cfg.get("schemes") or cfg.get("scheme")
        if isinstance(schemes, str):
            # singular `scheme: https` as a bare string: treat as a 1-list.
            # (The reference iterates the string char-wise here —
            # rulepack_runner.py:252,676 builds set('https') = {'h','t',...}
            # — flagging every URL; its fixtures only ever pass lists, so
            # normalizing is a strict fix, not a parity break.)
            schemes = [schemes]
        if not col:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_column"}))
        if col not in columns:
            return CompiledRule(rule, error=_column_not_found_error(col, columns))
        allow = sorted({x.lower() for x in (schemes or ["http", "https"])})
        pred = url_invalid_pred(col, schemes)

        def ev_url(n, aggs, ctx, p, _rule=rule, _sev=sev, _allow=allow):
            if n == 0:
                return "PASS", {"count": 0}
            rows = _rows_of(ctx, p)
            ev: dict[str, Any] = {
                "invalid_url_rows": rows,
                "count": n,  # exact aggregate count; rows list is capped
                "schemes": list(_allow),
            }
            rem = _remediation(ctx, p, rows, _rule)
            if rem:
                ev["remediation"] = rem
            return _status_from_severity(_sev), ev

        return single_col_rule(pred, ev_url)

    if rtype == "non_empty_trimmed":
        col = cfg.get("column")
        if not col:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_column"}))
        if col not in columns:
            return CompiledRule(rule, error=_column_not_found_error(col, columns))
        pred = non_empty_trimmed_pred(col)

        def ev_net(n, aggs, ctx, p, _rule=rule, _sev=sev):
            if n == 0:
                return "PASS", {"count": 0}
            rows = _rows_of(ctx, p)
            ev: dict[str, Any] = {"empty_or_whitespace_rows": rows, "count": n}
            rem = _remediation(ctx, p, rows, _rule)
            if rem:
                ev["remediation"] = rem
            return _status_from_severity(_sev), ev

        return single_col_rule(pred, ev_net)

    if rtype == "regex":
        col = cfg.get("column")
        regex = cfg.get("regex")
        mode = (cfg.get("mode") or "not_matches").strip()
        ignore_empty = bool(cfg.get("ignore_empty", True))
        if not col:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_column"}))
        if col not in columns:
            return CompiledRule(rule, error=_column_not_found_error(col, columns))
        if not regex:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_regex"}))
        if mode not in ("not_matches", "matches"):
            return CompiledRule(
                rule, error=("FAIL", {"error": "config_invalid_mode", "mode": mode})
            )
        try:
            _re.compile(regex)
        except (_re.error, TypeError) as e:
            return CompiledRule(
                rule,
                error=("FAIL", {"error": "invalid_regex", "message": str(e), "regex": regex}),
            )
        # Execution is JVM-side (rlike = java.util.regex), whose dialect is
        # not a superset of Python's (e.g. (?P<x>...) named groups compile
        # in Python, throw in Java). An uncaught Java PatternSyntaxException
        # inside the fused aggregate would abort EVERY rule in the report —
        # pre-compile against the executing engine and degrade this one
        # rule to its own runtime_error row instead.
        err = _java_regex_error(regex)
        if err is not None:
            return CompiledRule(
                rule,
                error=(
                    "FAIL",
                    {"error": "runtime_error", "message": err, "regex": regex},
                ),
            )
        viol, ignored = regex_pred(col, regex, mode, ignore_empty)
        extra = {key + "_ign": _cnt(ignored)}

        def ev_regex(
            n, aggs, ctx, p, _rule=rule, _sev=sev, _col=col, _rx=regex, _mode=mode,
            _ie=ignore_empty, _key=key,
        ):
            if n == 0:
                return "PASS", {
                    "column": _col,
                    "regex": _rx,
                    "mode": _mode,
                    "ignore_empty": bool(_ie),
                    "count": 0,
                }
            got = ctx.collect_rows(p, extra_cols=[_col])
            rows = [int(r[ROW_ID]) for r in got]
            samples = [
                {"row": int(r[ROW_ID]), "value": "" if r[_col] is None else str(r[_col])}
                for r in got[:10]
            ]
            ev: dict[str, Any] = {
                "column": _col,
                "regex": _rx,
                "mode": _mode,
                "ignore_empty": bool(_ie),
                "count": n,  # exact aggregate count; rows list is capped
                "rows": rows,
            }
            ign = int(aggs.get(_key + "_ign") or 0)
            if ign:
                ev["ignored_empty_count"] = ign
            if samples:
                ev["samples"] = samples
            rem = _remediation(ctx, p, rows, _rule)
            if rem:
                ev["remediation"] = rem
            return _status_from_severity(_sev), ev

        return single_col_rule(viol, ev_regex, extra_aggs=extra)

    if rtype == "foreign_key":
        frm = cfg.get("from", {}) or {}
        to = cfg.get("to", {}) or {}
        ft, ff = frm.get("table", ""), frm.get("field", "")
        tt, tf = to.get("table", ""), to.get("field", "")
        if not ft or not tt or not ff or not tf:
            return CompiledRule(rule, error=("FAIL", {"error": "config_missing_fk_fields"}))
        if ft not in frames_keys or tt not in frames_keys:
            return CompiledRule(
                rule,
                error=(
                    "FAIL",
                    {
                        "error": "unknown_table",
                        "message": (
                            f"Have tables {sorted(frames_keys)}; need: {ft}, {tt}"
                        ),
                    },
                ),
            )

        def fin_fk(aggs, ctx, _ft=ft, _ff=ff, _tt=tt, _tf=tf, _sev=sev):
            left_df, right_df = ctx.frames[_ft], ctx.frames[_tt]
            if _ff not in left_df.columns:
                return "FAIL", {"error": "column_not_found", "column": f"{_ft}.{_ff}"}
            if _tf not in right_df.columns:
                return "FAIL", {"error": "column_not_found", "column": f"{_tt}.{_tf}"}
            # distinct non-null left values minus right values: left-anti
            # join on distincts (broadcast right when small; Catalyst/AQE
            # picks). Evidence = sorted missing VALUES capped at 50
            # (rulepack_runner.py:556-568).
            lv = left_df.select(_s(_ff).alias("v")).where(F.col("v").isNotNull()).distinct()
            rv = right_df.select(_s(_tf).alias("v")).where(F.col("v").isNotNull()).distinct()
            missing_df = lv.join(rv, "v", "left_anti")
            cnt = missing_df.count()
            if cnt == 0:
                return "PASS", {"count": 0}
            vals = [r["v"] for r in missing_df.orderBy("v").limit(50).collect()]
            return _status_from_severity(_sev), {
                "missing_values": vals,
                "missing_count_estimate": int(cnt),
                "from": {"table": _ft, "field": _ff},
                "to": {"table": _tt, "field": _tf},
            }

        return CompiledRule(rule, finalize=fin_fk)

    raise AssertionError(f"unhandled rule type {rtype}")  # pragma: no cover
