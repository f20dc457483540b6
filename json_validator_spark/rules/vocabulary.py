"""Keyword vocabulary — §2.2 of SURVEY.md.

Each JSON-Schema keyword the reference can emit an error for
(inventory: ``jsv-messages.properties:1-71``, evaluated at
``JSONValidator.java:381-397``) becomes a *pass predicate* builder:
``(value: Column, params) -> Column[boolean]`` where True = the value
satisfies the keyword. All predicates are Catalyst Column expressions —
JVM-side, whole-stage-codegen — never per-row Python.

Null semantics follow JSON Schema: an absent (null) value vacuously
passes every keyword except ``required`` / ``forbidden``; ``null_pass``
applies that wrapper, so builders here may assume non-null input.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from json_validator_spark.functions.formats import format_pass

# Kinds whose predicate must see nulls (presence checks).
PRESENCE_KINDS = {"required", "forbidden", "dependentRequired"}


def _num(v: Any) -> Column:
    return F.lit(v)


def null_pass(kind: str, value: Column, params: dict[str, Any]) -> Column:
    """``build_pass`` under JSON-Schema null semantics: an absent value
    passes every keyword except the presence kinds (``required`` etc.)."""
    raw = build_pass(kind, value, params)
    if kind in PRESENCE_KINDS:
        return raw
    return F.when(value.isNull(), F.lit(True)).otherwise(raw)


def _inner_pred(schema: dict[str, Any]) -> Callable[[Column], Column]:
    """Compile a nested subschema ``{"kind": ..., "params": {...}}`` into
    an element-level pass predicate (used by contains / items / allOf…)."""
    kind, params = schema["kind"], schema.get("params", {})
    return lambda v: null_pass(kind, v, params)


# Reference-catalog keywords that are semantic aliases of another
# builder in our flat-table model (jsv-messages.properties lines in
# parens): draft-4 `dependencies` (:4) ≡ dependentRequired; positional
# `additionalItems` (:50) / `unevaluatedItems` (:49) ≡ items over the
# REMAINDER — pass `start` = number of prefix-tuple elements so only
# elements beyond the prefix are checked; `unevaluatedProperties` (:48)
# ≡ additionalProperties — pass `allowed_patterns` with the
# patternProperties key regexes so pattern-matched keys stay evaluated;
# `readOnly`/`writeOnly` (:25,:35) ≡ forbidden; `unionType` (:28) ≡ type
# with a types list; `notAllowed` (:46) ≡ false.
#
# BOUNDARY: via schema_import, the unevaluated* encodings now carry
# BOTH the static evaluated closure (sibling allOf/$ref, transitively)
# AND dynamic `contributors` (sibling anyOf/oneOf/if-then-else/
# dependentSchemas branches, guarded per row by their pass predicates).
# The remaining out-of-model residue is runtime $dynamicRef REbinding
# (the engine binds dynamic anchors statically per entry chain) — see
# README "Draft-2020-12 annotation boundary" for the precise statement
# and per-divergence reference lines.
ALIASES = {
    "dependencies": "dependentRequired",
    "additionalItems": "items",
    "unevaluatedItems": "items",
    "unevaluatedProperties": "additionalProperties",
    "readOnly": "forbidden",
    "writeOnly": "forbidden",
    "unionType": "type",
    "notAllowed": "false",
    # bounded $ref unrolling boundary (schema_import.max_ref_depth): any
    # value PRESENT beyond the unrolled depth fails — deeper nesting is
    # an explicit violation, never silently-unchecked data
    "refDepthExceeded": "forbidden",
}


def build_pass(kind: str, value: Column, params: dict[str, Any]) -> Column:
    """Dispatch one keyword to its Column predicate. Raises on unknown
    kinds — an unknown keyword is a rule-table authoring error, surfaced
    at compile time like the reference's schema-parse failures."""
    kind = ALIASES.get(kind, kind)

    # --- presence (jsv-messages.properties:26,25,35) -------------------
    if kind == "required":
        return value.isNotNull()
    if kind == "forbidden":  # readOnly / writeOnly / notAllowed-on-field
        return value.isNull()

    # --- constants & sets (:2,:7) --------------------------------------
    if kind == "const":
        return value == F.lit(params["value"])
    if kind == "enum":
        return value.isin(list(params["values"]))

    # --- numeric bounds (:16-20) ---------------------------------------
    if kind == "minimum":
        return value >= _num(params["value"])
    if kind == "maximum":
        return value <= _num(params["value"])
    if kind == "exclusiveMinimum":
        return value > _num(params["value"])
    if kind == "exclusiveMaximum":
        return value < _num(params["value"])
    if kind == "range":
        return value.between(_num(params["min"]), _num(params["max"]))
    if kind == "multipleOf":
        # decimal-safe divisibility (SURVEY §2.2): pmod handles negatives
        return F.pmod(value.cast("decimal(38,9)"), F.lit(params["value"]).cast("decimal(38,9)")) == 0

    # --- string lexical (:12,:13,:21,:51-70,:36,:37) -------------------
    if kind == "minLength":
        return F.length(value) >= _num(params["value"])
    if kind == "maxLength":
        return F.length(value) <= _num(params["value"])
    if kind == "pattern":
        if params.get("engine") == "python":
            # ECMA-262 constructs Java regex lacks (or differs on) route
            # through a VECTORIZED pandas UDF — Arrow batches, pandas
            # str.fullmatch, no per-row Python (SURVEY §2.2 pattern row).
            # Doc-level rules only: Spark forbids UDFs inside the
            # higher-order-function lambdas span rules compile to.
            return _pandas_regex_pass(value, params["regex"])
        return value.rlike(params["regex"])
    if kind == "format":
        return format_pass(value, params["format"])
    if kind == "contentEncoding":
        if params.get("encoding", "base64") == "base64":
            return value.rlike(r"^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$")
        return F.lit(True)
    if kind == "contentMediaType":
        # Declares the media type of the string's (decoded) CONTENT
        # (draft-7 §8.4 / 2019-09 §8.8.2) — NOT an assertion that the
        # value is a media-type literal. JSON types are verifiable
        # JVM-side (try_parse_json, whole-stage codegen); other media
        # types pass — the spec's MAY-validate, and the reference's
        # networknt validator doesn't decode content either. A sibling
        # contentEncoding (injected by the importer) decodes first;
        # undecodable transport means the content can't conform.
        mt = str(params.get("media_type") or "").lower()
        if not (mt == "application/json" or mt.endswith("+json")):
            return F.lit(True)

        def _whole_json(col):
            # try_parse_json (Jackson) accepts any string with a valid
            # JSON PREFIX and ignores trailing content ('{"a":1} junk'
            # parses as {"a":1}) — but RFC 8259 requires the JSON text
            # to be the WHOLE string. Wrapping closes the hole: a value
            # parse starting at the same offset ends at the same
            # position in both wrappers, and a prefix-terminating
            # close-bracket cannot be both ']' and '}' there — so the
            # three parses together accept exactly complete single
            # JSON values. (Found by a randomized content-keyword
            # differential: digit-then-garbage strings passed the bare
            # parse.)
            return (
                F.try_parse_json(col).isNotNull()
                & F.try_parse_json(F.concat(F.lit("["), col, F.lit("]"))).isNotNull()
                & F.try_parse_json(
                    F.concat(F.lit('{"k":'), col, F.lit("}"))
                ).isNotNull()
            )

        if params.get("encoding") == "base64":
            b64_ok = value.rlike(
                r"^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
            )
            decoded = F.when(b64_ok, F.unbase64(value).cast("string"))
            return b64_ok & _whole_json(decoded)
        return _whole_json(value)

    # --- type (:27,:28) -------------------------------------------------
    if kind == "type":
        return _type_pass(value, params)

    # --- array keywords (:10,:11,:29,:3,:30-34,:44) ---------------------
    if kind == "minItems":
        return F.size(value) >= _num(params["value"])
    if kind == "maxItems":
        return F.size(value) <= _num(params["value"])
    if kind == "uniqueItems":
        arr = value
        if "field" in params:  # distinctness of one struct field
            arr = F.transform(value, lambda s: s[params["field"]])
        return F.size(arr) == F.size(F.array_distinct(arr))
    if kind == "contains":
        # COUNTING semantics: a null element must not count as a match
        # (the vacuous-pass wrapper is for absent values under boolean
        # keywords; here it would inflate min/maxContains counts)
        inner_raw = params["schema"]
        arr = value
        if "field" in params:
            arr = F.transform(value, lambda s: s[params["field"]])
        n = F.size(
            F.filter(
                arr,
                lambda v: v.isNotNull()
                & build_pass(inner_raw["kind"], v, inner_raw.get("params", {})),
            )
        )
        lo = params.get("min", 1)
        hi = params.get("max")
        ok = n >= F.lit(lo)
        if hi is not None:
            ok = ok & (n <= F.lit(hi))
        return ok
    if kind == "items":  # every element satisfies subschema (:44)
        inner = _inner_pred(params["schema"])
        arr = value
        if "field" in params:
            arr = F.transform(value, lambda s: s[params["field"]])
        start = int(params.get("start", 0))
        contribs = params.get("contributors", [])
        if contribs:
            # unevaluatedItems under dynamic annotation flow: a passing
            # sibling anyOf/oneOf/if branch can widen the evaluated
            # prefix (per-row greatest) or, via a non-tuple `items`,
            # evaluate every element (keyword passes outright)
            start_col = F.lit(start)
            full_cond = F.lit(False)
            for c in contribs:
                cond = F.lit(True)
                for n in c.get("when", []):
                    cond = cond & _inner_pred(n)(value)
                if c.get("full"):
                    full_cond = full_cond | cond
                if c.get("start"):
                    start_col = F.greatest(
                        start_col,
                        F.when(cond, F.lit(int(c["start"]))).otherwise(F.lit(0)),
                    )
            sliced = F.slice(
                arr, start_col + F.lit(1),
                F.greatest(F.size(arr) - start_col, F.lit(0)),
            )
            return full_cond | F.forall(sliced, inner)
        if start:  # additionalItems/unevaluatedItems: skip the prefix tuple
            arr = F.slice(arr, start + 1, F.greatest(F.size(arr) - start, F.lit(0)))
        return F.forall(arr, inner)
    if kind == "prefixItems":  # positional subschemas (:23)
        ok = F.lit(True)
        for i, sub in enumerate(params["schemas"]):
            inner = _inner_pred(sub)
            elem = F.element_at(value, i + 1)
            ok = ok & F.when(F.size(value) > i, inner(elem)).otherwise(F.lit(True))
        return ok
    if kind == "monotonic":
        # Strictly-increasing struct field across the array (the corpus'
        # span-offset ordering invariant, FIXTURES.md §1). zip_with the
        # array against its own tail. The extracted-field array is
        # let-bound (functions/text.let): head/tail/size reference it 4x,
        # and HOF lambdas re-evaluate referenced expressions per use.
        from json_validator_spark.functions.text import let

        fld = params["field"]
        strict = params.get("strict", True)
        cmp = (lambda a, b: a < b) if strict else (lambda a, b: a <= b)

        def check(arr: Column) -> Column:
            n1 = F.greatest(F.size(arr) - 1, F.lit(0))
            head = F.slice(arr, 1, n1)
            tail = F.slice(arr, 2, n1)
            return F.forall(F.zip_with(head, tail, cmp), lambda x: x)

        return let(F.transform(value, lambda s: s[fld]), check)

    # --- object keywords over dynamic JSON (:14,:15,:38,:47) -----------
    # value is a map<string,string> column (from_json at source level).
    if kind == "minProperties":
        return F.size(F.map_keys(value)) >= _num(params["value"])
    if kind == "maxProperties":
        return F.size(F.map_keys(value)) <= _num(params["value"])
    if kind == "additionalProperties":
        # factory, not default-arg binding: pyspark dispatches HOF
        # lambdas on parameter count, so the callable must be (k,) only
        def _drop_matching(rx: str):
            return lambda k: ~k.rlike(rx)

        allowed = F.array(*[F.lit(k) for k in params["allowed"]])
        extras = F.array_except(F.map_keys(value), allowed)
        # unevaluatedProperties: patternProperties-matched keys pass
        for rx in params.get("allowed_patterns", []):
            extras = F.filter(extras, _drop_matching(rx))
        # Dynamic contributors (draft-2020-12 annotation flow): a sibling
        # anyOf/oneOf/if/dependentSchemas branch's evaluated keys are
        # subtracted only on rows where the branch — and its applicator
        # keyword as a whole — passes (the `when` conjunction). Folding
        # sequentially keeps each qualifying branch's removal cumulative;
        # everything stays one projection, no UDFs. Each step is
        # let-bound: a plain `when(cond, f(extras)).otherwise(extras)`
        # fold embeds the prior expression TWICE per step (2^n tree for
        # n contributors); binding the running value as a lambda variable
        # keeps the expression linear in n.
        from json_validator_spark.functions.text import let

        def _apply_contributor(c):
            cond = F.lit(True)
            for n in c.get("when", []):
                cond = cond & _inner_pred(n)(value)

            def step(x):
                removed = x
                if c.get("allowed"):
                    removed = F.array_except(
                        removed, F.array(*[F.lit(k) for k in c["allowed"]])
                    )
                for rx in c.get("allowed_patterns", []):
                    removed = F.filter(removed, _drop_matching(rx))
                return F.when(cond, removed).otherwise(x)

            return step

        for c in params.get("contributors", []):
            extras = let(extras, _apply_contributor(c))
        return F.size(extras) == 0
    if kind == "propertyNames":
        return F.forall(F.map_keys(value), lambda k: k.rlike(params["regex"]))
    if kind == "requiredKey":  # `required` for a dynamic-JSON property
        return F.array_contains(F.map_keys(value), params["key"])
    if kind == "patternProperties":
        # values of keys matching key_regex must satisfy the subschema (:22)
        inner = _inner_pred(params["schema"])
        return F.forall(
            F.map_keys(value),
            lambda k: F.when(
                k.rlike(params["key_regex"]), inner(F.element_at(value, k))
            ).otherwise(F.lit(True)),
        )
    if kind == "dependentSchemas":
        # if the key is present, the whole map value satisfies subschema (:6)
        inner = _inner_pred(params["schema"])
        return F.when(
            F.array_contains(F.map_keys(value), params["key"]), inner(value)
        ).otherwise(F.lit(True))
    if kind == "properties":
        # per-key subschemas (:24) — each declared key's value satisfies
        # its schema; absent keys vacuously pass (presence is `requiredKey`)
        ok = F.lit(True)
        for key, sub in params["properties"].items():
            inner = _inner_pred(sub)
            ok = ok & inner(F.element_at(value, key))
        return ok
    if kind == "discriminator":
        # networknt's OpenAPI discriminator (jsv-messages.properties
        # discriminator.*): the discriminating property's value selects
        # which subschema the object must satisfy; a missing value or an
        # unmapped value fails (missing_discriminating_value /
        # no_match_found)
        disc = F.element_at(value, params["key"])
        expr = F.when(disc.isNull(), F.lit(False))
        for dv, sub in params["mapping"].items():
            inner = _inner_pred(sub)
            expr = expr.when(disc == F.lit(dv), inner(value))
        return expr.otherwise(F.lit(False))

    # --- in-schema boolean combinators (:39-42,:45,:43) -----------------
    if kind == "allOf":
        ok = F.lit(True)
        for sub in params["schemas"]:
            ok = ok & _inner_pred(sub)(value)
        return ok
    if kind == "anyOf":
        ok = F.lit(False)
        for sub in params["schemas"]:
            ok = ok | _inner_pred(sub)(value)
        return ok
    if kind == "oneOf":
        n = sum(
            (_inner_pred(sub)(value).cast("int") for sub in params["schemas"]),
            start=F.lit(0),
        )
        return n == 1
    if kind == "not":
        return ~_inner_pred(params["schema"])(value)
    if kind == "ifThenElse":
        # draft-7 conditional applicator: validation verdict is the exact
        # boolean composition (if ⇒ then) ∧ (¬if ⇒ else); params pack the
        # three branches positionally in `schemas` [if, then, else]
        # (missing then/else = true schema) so every ref/predicate walker
        # that already handles `schemas` covers conditionals for free
        cond, then_s, else_s = params["schemas"]
        return F.when(
            _inner_pred(cond)(value), _inner_pred(then_s)(value)
        ).otherwise(_inner_pred(else_s)(value))
    if kind == "false":  # always-invalid branch (:43)
        return F.lit(False)
    if kind == "true":
        return F.lit(True)

    raise ValueError(f"unknown rule kind: {kind}")


def _pandas_regex_pass(value: Column, regex: str) -> Column:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def match(s):
        return s.str.fullmatch(regex).astype("boolean")

    return match(value)


def _type_pass(value: Column, params: dict[str, Any]) -> Column:
    """``type`` keyword (:27). Two modes:

    - typed column: the table schema already guarantees the type — the
      compiler statically resolves this to lit(True)/lit(False) before
      ever calling here (see compiler._static_type_ok).
    - ``lexical: true``: the column is stringly data; check the lexeme.
    """
    types = params.get("types") or [params["type"]]
    if not params.get("lexical"):
        # Non-lexical type rules reaching runtime mean "value must be
        # castable": use try-cast null-out (SURVEY §2.2 type row).
        ok = F.lit(False)
        for t in types:
            spark_t = {"integer": "long", "number": "double", "boolean": "boolean", "string": "string"}.get(t)
            if spark_t is None:
                ok = ok | F.lit(True)
            else:
                ok = ok | value.cast("string").try_cast(spark_t).isNotNull()
        return ok
    ok = F.lit(False)
    for t in types:
        if t == "integer":
            ok = ok | value.rlike(r"^-?(0|[1-9]\d*)$")
        elif t == "number":
            ok = ok | value.rlike(r"^-?(0|[1-9]\d*)(\.\d+)?([eE][+-]?\d+)?$")
        elif t == "boolean":
            ok = ok | value.isin("true", "false")
        elif t == "null":
            ok = ok | (value == "null")
        elif t == "string":
            ok = ok | F.lit(True)
        elif t == "array":
            ok = ok | value.rlike(r"^\s*\[")
        elif t == "object":
            ok = ok | value.rlike(r"^\s*\{")
    return ok
