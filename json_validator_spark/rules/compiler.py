"""Rule compiler: Rule → Catalyst violation expression.

The analogue of the reference's schema parsing + keyword interpretation
(``JSONValidator.java:321-345`` parse, ``:381-397`` evaluate), except the
"interpretation" happens once at the driver: every rule compiles to
Column expressions over ``array<struct<span_path,rule_id,severity,
message>>`` — the per-row violations that rule produces. A doc-level
rule compiles to its own array (``compile_rule``); a span-level rule
compiles to one per-span struct (``span_violation_expr``) that
``operators/row_checks`` fuses with its siblings into a single
``transform`` over the spans array. The pipeline concatenates these
arrays and explodes once, so the entire row-rule layer is a single
narrow projection with zero shuffles. The span lambdas are
higher-order functions, which Spark evaluates interpreted rather than
in whole-stage codegen.

``$ref`` resolution inlines named definitions with a cycle guard,
mirroring ``SchemaResolutionState.java:30-56``.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from json_validator_spark.rules.model import Rule, map_subnodes, subnodes
from json_validator_spark.rules.vocabulary import null_pass

VIOLATION_FIELD_NAMES = ("span_path", "rule_id", "severity", "message")
VIOLATION_FIELDS = ", ".join(f"{f} string" for f in VIOLATION_FIELD_NAMES)
VIOLATION_ARRAY_TYPE = f"array<struct<{VIOLATION_FIELDS}>>"


def severity_count(violations: Column, severity: str) -> Column:
    """Number of ``severity`` entries in a per-row violations array."""
    return F.size(F.filter(violations, lambda v: v["severity"] == severity))


def _message(rule: Rule) -> str:
    """Static per-rule message from the locale-keyed catalog
    (``rules/messages.py`` — the validator_en/fr/de.properties analogue;
    value-free so the aggregate rollup groupBy(severity,message) is
    exact and deterministic). Resolved at compile time → plan constant."""
    from json_validator_spark.rules.messages import message_for

    return f"[{rule.target}] {message_for(rule.kind)}"


def _expected_text(rule: Rule) -> str:
    """Plan-constant rendering of the constraint's expectation — the
    ``{1}`` slot of the reference's ``Expected {1} but found {0}``
    (``jsv-messages.properties:27``). Short, deterministic, derived from
    the rule params only."""
    p = rule.params
    if "value" in p:
        return f"{rule.kind} {p['value']}"
    if "regex" in p:
        return f"pattern {p['regex']}"
    if "values" in p:
        return "one of " + ", ".join(str(x) for x in p["values"])
    if "format" in p:
        return f"format {p['format']}"
    if "type" in p:
        return f"type {p['type']}"
    if "types" in p:
        return "type in " + ", ".join(str(t) for t in p["types"])
    return rule.kind


def _message_col(rule: Rule, value: Column, detail: bool) -> Column:
    """The violation ``message`` Column. Value-free plan constant by
    default; with ``detail=True`` the reference's interpolated form is
    appended — ``… (expected <constraint>, found <actual>)``, catalog
    slots ``jsv-messages.properties:27`` — for detailed-report
    consumers. The template stays the prefix and ``rule_id`` stays the
    grouping identity, so ``aggregate_report`` (rule_id × severity) is
    bit-identical in both modes."""
    msg = F.lit(_message(rule))
    if not detail:
        return msg
    found = F.when(value.isNull(), F.lit("(absent)")).otherwise(
        value.cast("string")
    )
    return F.concat(
        msg, F.lit(f" (expected {_expected_text(rule)}, found "), found, F.lit(")")
    )


# ----------------------------------------------------------------------
# $ref resolution (SchemaResolutionState.java:30-56 analogue)
# ----------------------------------------------------------------------

def resolve_refs(
    schema: dict[str, Any],
    definitions: dict[str, dict[str, Any]] | None,
    _seen: frozenset[str] = frozenset(),
) -> dict[str, Any]:
    """Inline ``{"kind": "$ref", "params": {"ref": name}}`` nodes from the
    shared ``definitions`` map (the LocalSchemaCache analogue,
    ``LocalSchemaCache.java:62-73``). Cycles raise — the reference guards
    recursion the same way rather than looping forever."""
    if schema.get("kind") == "$ref":
        name = schema["params"]["ref"]
        if name in _seen:
            raise ValueError(f"cyclic $ref: {' -> '.join([*_seen, name])}")
        if not definitions or name not in definitions:
            raise ValueError(f"unresolved $ref: {name}")
        return resolve_refs(definitions[name], definitions, _seen | {name})
    params = map_subnodes(
        schema.get("params", {}), lambda n: resolve_refs(n, definitions, _seen)
    )
    return {**schema, "params": params}


# ----------------------------------------------------------------------
# Guards (conditional application within a row / span)
# ----------------------------------------------------------------------

def _span_guard(params: dict[str, Any]) -> Callable[[Column], Column] | None:
    """Optional ``when`` guard: the keyword applies only to spans where
    ``spans[i][field]`` equals/matches something — e.g. 'text must be
    non-null when kind=text'. Returns span-struct → bool, or None."""
    w = params.get("when")
    if not w:
        return None

    def guard(s: Column) -> Column:
        v = s[w["field"]]
        if "eq" in w:
            return v.isNotNull() & (v == F.lit(w["eq"]))
        if "in" in w:
            return v.isNotNull() & v.isin(list(w["in"]))
        if "pattern" in w:
            return v.isNotNull() & v.rlike(w["pattern"])
        raise ValueError(f"unsupported when-guard: {w}")

    return guard


# ----------------------------------------------------------------------
# Compilation
# ----------------------------------------------------------------------

def normalize_rule(
    rule: Rule, definitions: dict[str, dict[str, Any]] | None = None
) -> Rule:
    """$ref inlining + catalog-alias normalization (aliases BEFORE
    dispatch so presence semantics — e.g. readOnly → forbidden must see
    nulls — resolve correctly)."""
    from json_validator_spark.rules.vocabulary import ALIASES

    schema = resolve_refs({"kind": rule.kind, "params": rule.params}, definitions)
    kind, params = ALIASES.get(schema["kind"], schema["kind"]), schema["params"]
    out = Rule(rule.rule_id, rule.target, kind, params, rule.severity, rule.ruleset)
    if out.level == "span" and _uses_python_predicate(kind, params):
        # The two pandas-UDF-backed predicates cannot run inside the
        # higher-order-function lambdas span rules compile to — Spark
        # rejects the plan at analysis time with an opaque error, so
        # fail clearly here at compile time instead (ADVICE r01).
        raise ValueError(
            f"rule {rule.rule_id!r}: a Python-engine predicate (pattern "
            f"engine='python' or format:'regex', possibly nested in a "
            f"subschema) is doc-level only — span targets ({rule.target!r}) "
            "compile to array lambdas, where Spark forbids (pandas) UDFs"
        )
    return out


def _uses_python_predicate(kind: str, params: dict[str, Any]) -> bool:
    """True if this keyword — or any subschema nested under it (items /
    contains / combinators / properties / discriminator mappings) —
    compiles to a pandas UDF."""
    if (kind == "pattern" and params.get("engine") == "python") or (
        kind == "format" and params.get("format") == "regex"
    ):
        return True
    return any(
        _uses_python_predicate(s.get("kind", ""), s.get("params", {}))
        for s in subnodes(params)
    )


def _pointer_value(target: str) -> Column:
    """Resolve a full JSON-pointer path to a Column (nested fields +
    positional F.get) — a doc rule's own target, its guards and its
    dependency targets."""
    parts = target.strip("/").split("/")
    if parts == [""]:
        # document-root target ("/"): no single column carries "the whole
        # row" — only the constant kinds (true/false branch anchors) may
        # anchor here, and their predicates ignore the value
        return F.lit(None).cast("string")
    col: Column = F.col(parts[0])
    # F.get for positions: ANSI mode errors on out-of-range indexes,
    # but a pointer past the end must read as absent (null).
    for p in parts[1:]:
        col = col[p] if not p.isdigit() else F.get(col, int(p))
    return col


def compile_rule(rule: Rule, detail: bool = False) -> Column:
    """A doc-level rule → its per-row violations array (one violation or
    null). ``rule`` must already be normalized (``normalize_rule``);
    span-level rules compile through ``span_violation_expr`` instead."""
    if rule.level == "span":
        raise ValueError(
            f"rule {rule.rule_id!r}: span target {rule.target!r} compiles "
            "through span_violation_expr, not the doc-rule compiler"
        )
    value = _pointer_value(rule.target)
    if rule.kind == "dependentRequired":
        # full-pointer resolution: '/meta/lang' must test meta.lang,
        # not the whole meta struct
        if_val = _pointer_value(rule.params["if_target"])
        ok = F.when(if_val.isNotNull(), value.isNotNull()).otherwise(F.lit(True))
    else:
        ok = null_pass(rule.kind, value, rule.params)
        w = rule.params.get("when_doc")
        if w:  # doc-level guard: apply only when another column matches
            gv = _pointer_value(w["target"])
            g = gv == F.lit(w["eq"]) if "eq" in w else gv.isin(list(w["in"]))
            ok = F.when(gv.isNotNull() & g, ok).otherwise(F.lit(True))
    v = F.struct(
        F.lit(rule.target).alias("span_path"),
        F.lit(rule.rule_id).alias("rule_id"),
        F.lit(rule.severity).alias("severity"),
        _message_col(rule, value, detail).alias("message"),
    )
    return F.when(~ok, F.array(v)).otherwise(F.lit(None).cast(VIOLATION_ARRAY_TYPE))


def _per_span_ok(rule: Rule, s: Column) -> Column:
    """Pass predicate for ONE span struct value ``s`` (the lambda
    variable of the fused spans ``transform``)."""
    fld = rule.span_field
    guard = _span_guard(rule.params)
    if rule.kind == "dependentRequired":
        if_val = s[rule.params["if_field"]]
        ok = F.when(if_val.isNotNull(), s[fld].isNotNull()).otherwise(F.lit(True))
    else:
        ok = null_pass(rule.kind, s[fld], rule.params)
    if guard is not None:
        ok = F.when(guard(s), ok).otherwise(F.lit(True))
    return ok


def span_violation_expr(
    rule: Rule, s: Column, i: Column, detail: bool = False
) -> Column:
    """``when(span fails rule, violation struct)`` for one span: ``s`` is
    the span struct value, ``i`` its position in the spans array. Called
    inside the fused per-span lambda of ``row_checks._branch_violations``,
    so it runs interpreted with the rest of the higher-order function."""
    v = F.struct(
        F.concat(
            F.lit(f"/{rule.column}/"), i.cast("string"), F.lit(f"/{rule.span_field}")
        ).alias("span_path"),
        F.lit(rule.rule_id).alias("rule_id"),
        F.lit(rule.severity).alias("severity"),
        _message_col(rule, s[rule.span_field], detail).alias("message"),
    )
    return F.when(~_per_span_ok(rule, s), v).otherwise(
        F.lit(None).cast(f"struct<{VIOLATION_FIELDS}>")
    )
