"""JSON-Schema document import → flat rule table → violations.

The import path is the reference's user interface (schema.json in,
violations out); these tests feed realistic schema documents through
``ruleset_from_json_schema`` + ``violations_df`` and assert keyword
semantics end-to-end, including $defs/$ref chains, nested combinators,
map-typed object properties and the strict unknown-keyword stance.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_validator_spark.operators.row_checks import violations_df
from json_validator_spark.rules.schema_import import ruleset_from_json_schema

SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "required": ["name"],
    "dependentRequired": {"source": ["lang"]},
    "$defs": {
        "shortText": {"maxLength": 6},
    },
    "properties": {
        "name": {"type": "string", "minLength": 2, "pattern": "^[a-z]+$"},
        "lang": {"enum": ["en", "es"], "x-severity": "warning"},
        "source": {"$ref": "#/$defs/shortText"},
        "n": {"type": "integer", "minimum": 0, "maximum": 100, "multipleOf": 5},
        "score": {
            "allOf": [{"minimum": 0}, {"maximum": 1}],
            "not": {"const": 0.5},
        },
        "tags": {
            "type": "array",
            "minItems": 1,
            "uniqueItems": True,
            "items": {"pattern": "^t"},
        },
        "meta": {
            "type": "object",
            "required": ["k"],
            "maxProperties": 3,
            "propertyNames": {"pattern": "^[a-z]+$"},
            "patternProperties": {"^x": {"pattern": "^v"}},
        },
        "legacy": False,
    },
}

ROWS = [
    # doc_id, name, lang, source, n, score, tags, meta, legacy
    (0, "alice", "en", "src", 10, 0.9, ["t1", "t2"], {"k": "1"}, None),       # clean
    (1, None, "xx", "longer7", 7, 0.5, [], {"K": "1"}, "x"),                  # many violations
    (2, "Bob", "es", None, None, 1.5, ["a", "a"], {"k": "1", "xq": "bad"}, None),
    (3, "cd", "en", "s", 0, None, None, {"a": "1", "b": "2", "c": "3", "k": "4"}, None),
]
DDL = (
    "doc_id long, name string, lang string, source string, n long, score double, "
    "tags array<string>, meta map<string,string>, legacy string"
)


@pytest.fixture(scope="module")
def imported():
    return ruleset_from_json_schema(SCHEMA, name="t")


def test_import_end_to_end(spark, imported):
    rs, defs = imported
    df = spark.createDataFrame(ROWS, DDL)
    got = {
        (r["doc_id"], r["rule_id"], r["severity"])
        for r in violations_df(df, rs, definitions=defs).collect()
    }
    assert got == {
        # doc 1: missing name; bad lang (warning); source present w/o... lang
        # present so dependentRequired ok; source too long ($ref chain);
        # n=7 not multipleOf 5; score=0.5 hits `not`; tags empty (minItems);
        # meta missing k + bad property name 'K'; legacy present (false schema)
        (1, "name.required", "error"),
        (1, "lang.enum", "warning"),
        (1, "source.$ref", "error"),  # resolves through #/$defs/shortText
        (1, "n.multipleOf", "error"),
        (1, "score.not", "error"),
        (1, "tags.minItems", "error"),
        (1, "meta.requiredKey", "error"),
        (1, "meta.propertyNames", "error"),
        (1, "legacy.notAllowed", "error"),
        # doc 2: 'Bob' fails pattern; source absent while... dependentRequired
        # fires on lang? no: source->lang dep; source null => no dep. score 1.5
        # fails allOf max; duplicate tags + both fail item pattern; meta xq
        # fails patternProperties value pattern
        (2, "name.pattern", "error"),
        (2, "score.allOf", "error"),
        (2, "tags.uniqueItems", "error"),
        (2, "tags.items", "error"),
        (2, "meta.patternProperties", "error"),
        # doc 3: n=0 passes (multipleOf 0 ok); meta has 4 keys (maxProperties)
        (3, "meta.maxProperties", "error"),
    }


def test_import_rule_granularity(imported):
    rs, defs = imported
    ids = {r.rule_id for r in rs.rules}
    # one rule per keyword application, reference-style per-keyword messages
    assert {"name.required", "name.type", "name.minLength", "name.pattern",
            "lang.dependentRequired", "source.$ref", "n.minimum", "n.maximum",
            "tags.items", "meta.properties"} - ids == {"meta.properties"}
    assert "#/$defs/shortText" in defs


def test_import_unknown_keyword_raises():
    with pytest.raises(ValueError, match="unsupported JSON-Schema keyword"):
        ruleset_from_json_schema(
            {"type": "object", "properties": {"a": {"unevaluatedFrobnitz": 1}}}
        )


def test_import_requires_object_with_properties():
    with pytest.raises(ValueError, match="object with `properties`"):
        ruleset_from_json_schema({"type": "array"})


def test_import_top_level_oneof_branches(spark):
    """Top-level oneOf of object schemas compiles to the engine's
    ONE_OF schema-set combination conjoined with the main rules."""
    rs, defs = ruleset_from_json_schema({
        "type": "object",
        "properties": {"name": {"minLength": 1}},
        "oneOf": [
            {"required": ["a"]},
            {"required": ["b"]},
        ],
    })
    df = spark.createDataFrame(
        [(0, "x", "1", None), (1, "x", None, None), (2, "x", "1", "2")],
        "doc_id long, name string, a string, b string",
    )
    from json_validator_spark.operators.row_checks import with_violations

    got = {
        r["doc_id"]: r["doc_pass"]
        for r in with_violations(df, rs, defs).select("doc_id", "doc_pass").collect()
    }
    # doc 0: exactly one branch (a present) → pass; doc 1: zero → fail;
    # doc 2: both → fail (oneOf)
    assert got == {0: True, 1: False, 2: False}


def test_import_permissive_combination_branch_still_counts(spark):
    """A member that compiles to ZERO rules (annotation-only, or only
    object/array `type` keywords the typed-table model checks
    structurally) must still exist as a branch: networknt counts an
    always-pass member as a match (``JSONValidator.java:259-278``), so a
    two-permissive-member oneOf is 'matches more than one configured
    schema' for every doc, and a failing anyOf doc is rescued by a
    permissive member. Regression: such branches used to vanish,
    degrading the combination to a single-branch ALL."""
    from json_validator_spark.operators.row_checks import violations_df

    df = spark.createDataFrame(
        [(0, "x"), (1, None)], "doc_id long, b string"
    )

    one, defs1 = ruleset_from_json_schema({
        "type": "object",
        "properties": {"b": {"type": "string"}},
        "oneOf": [
            {"type": "object", "properties": {"b": {}}},
            {"type": "object"},
        ],
    })
    got = {
        (r["doc_id"], r["rule_id"])
        for r in violations_df(df, one, definitions=defs1).collect()
    }
    assert got == {(0, "combination.oneOf.multiple"), (1, "combination.oneOf.multiple")}

    any_, defs2 = ruleset_from_json_schema({
        "type": "object",
        "properties": {"b": {"type": "string"}},
        "anyOf": [
            {"type": "object", "properties": {"b": {"pattern": "^z"}}, "required": ["b"]},
            {"type": "object"},
        ],
    })
    assert violations_df(df, any_, definitions=defs2).count() == 0


def test_import_element_object_items_compiles_to_span_rules(spark):
    """`items` describing array elements as OBJECTS (the spans-shaped
    array<struct> input columns) must compile to the engine's native
    per-field span rules with INDEXED JSON-pointer locations — the
    nested paths networknt reports (`JSONValidator.java:461-465`) —
    not the map-oriented inner-items predicate (which fails Spark
    analysis on struct elements)."""
    from json_validator_spark.operators.row_checks import violations_df

    rs, defs = ruleset_from_json_schema({
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "type": "object",
        "properties": {
            "spans": {
                "type": "array",
                "minItems": 1,
                "items": {
                    "type": "object",
                    "required": ["kind"],
                    "properties": {
                        "kind": {"enum": ["text", "media"]},
                        "offset": {"type": "integer", "minimum": 0},
                    },
                },
            }
        },
    })
    assert {(r.rule_id, r.target) for r in rs.rules} == {
        ("spans.items.kind.required", "/spans/*/kind"),
        ("spans.items.kind.enum", "/spans/*/kind"),
        ("spans.items.offset.minimum", "/spans/*/offset"),
        ("spans.items.offset.type", "/spans/*/offset"),
        ("spans.minItems", "/spans"),
    }
    df = spark.createDataFrame(
        [
            (0, [("text", "a", None, 0), ("media", None, "m", 5)]),
            (1, [("imge", "a", None, -2)]),
            (2, []),
            (3, [(None, "x", None, 1)]),
        ],
        "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {
        (r["doc_id"], r["span_path"], r["rule_id"])
        for r in violations_df(df, rs, definitions=defs).collect()
    }
    assert got == {
        (1, "/spans/0/kind", "spans.items.kind.enum"),
        (1, "/spans/0/offset", "spans.items.offset.minimum"),
        (2, "/spans", "spans.minItems"),
        (3, "/spans/0/kind", "spans.items.kind.required"),
    }


def test_import_element_object_items_strict_errors():
    with pytest.raises(ValueError, match="element-object form supports"):
        ruleset_from_json_schema({
            "type": "object",
            "properties": {
                "spans": {
                    "type": "array",
                    "items": {"type": "object", "required": ["k"], "minProperties": 2},
                }
            },
        })


def test_import_top_level_unknown_constraint_raises():
    with pytest.raises(ValueError, match="unsupported top-level keyword"):
        ruleset_from_json_schema(
            {"type": "object", "properties": {}, "patternProperties": {"^x": {}}}
        )


def test_import_required_without_declared_type(spark):
    """`required` inside a property subschema applies even without an
    explicit type: object (JSON Schema semantics — it constrains any
    value that IS an object; here, the map-typed column)."""
    rs, defs = ruleset_from_json_schema(
        {"type": "object", "properties": {"meta": {"required": ["k"]}}}
    )
    df = spark.createDataFrame(
        [(0, {"k": "1"}), (1, {"other": "1"})], "doc_id long, meta map<string,string>"
    )
    got = {(r["doc_id"], r["rule_id"]) for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {(1, "meta.requiredKey")}


def test_import_nested_ref_in_map_properties(spark):
    """$ref nested under a map property's `properties` holder resolves
    (compiler.resolve_refs recurses into dict-valued param holders)."""
    rs, defs = ruleset_from_json_schema({
        "type": "object",
        "$defs": {"short": {"maxLength": 2}},
        "properties": {
            "meta": {"type": "object", "properties": {"k": {"$ref": "#/$defs/short"}}}
        },
    })
    df = spark.createDataFrame(
        [(0, {"k": "ab"}), (1, {"k": "abc"}), (2, {"other": "x"})],
        "doc_id long, meta map<string,string>",
    )
    got = {(r["doc_id"], r["rule_id"]) for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {(1, "meta.properties")}


# Every params holder a compiled node can nest nodes under: (wrap a
# nested node into a parent node, read it back out) — written out here
# rather than through rules.model.subnodes, so a holder the shared walker
# misses fails below.
_NODE_HOLDERS = {
    "schema": (
        lambda n: {"kind": "not", "params": {"schema": n}},
        lambda p: p["schema"],
    ),
    "schemas": (
        lambda n: {"kind": "anyOf", "params": {"schemas": [n]}},
        lambda p: p["schemas"][0],
    ),
    "properties": (
        lambda n: {"kind": "properties", "params": {"properties": {"k": n}}},
        lambda p: p["properties"]["k"],
    ),
    "mapping": (
        lambda n: {"kind": "discriminator", "params": {"key": "t", "mapping": {"a": n}}},
        lambda p: p["mapping"]["a"],
    ),
    "contributors.when": (
        lambda n: {"kind": "unevaluatedProperties", "params": {
            "allowed": [], "allowed_patterns": [],
            "contributors": [{"when": [n], "allowed": ["x"], "allowed_patterns": []}],
        }},
        lambda p: p["contributors"][0]["when"][0],
    ),
}


@pytest.mark.parametrize("holder", sorted(_NODE_HOLDERS))
def test_ref_under_every_node_holder(holder):
    """A `$ref` nested under each holder is inlined by resolve_refs,
    rewritten by the bounded unrolling, and seen by the span-level
    Python-predicate guard."""
    from json_validator_spark.rules.compiler import _uses_python_predicate, resolve_refs
    from json_validator_spark.rules.schema_import import _unroll_definitions

    wrap, get = _NODE_HOLDERS[holder]

    def ref(name):
        return {"kind": "$ref", "params": {"ref": name}}

    short = {"kind": "maxLength", "params": {"value": 2}}
    assert get(resolve_refs(wrap(ref("d")), {"d": short})["params"]) == short

    out = _unroll_definitions({"d": wrap(ref("d"))}, max_depth=2)
    assert out["d"] == ref("d@1")
    assert get(out["d@1"]["params"]) == ref("d@2")
    assert get(out["d@2"]["params"]) == {
        "kind": "refDepthExceeded", "params": {"ref": "d"}}

    py = {"kind": "pattern", "params": {"regex": "^a", "engine": "python"}}
    assert _uses_python_predicate(*wrap(py).values())


def test_import_draft4_tuple_items(spark):
    """Draft-4 array-form `items` + `additionalItems` maps to
    prefixItems + items(start=len(prefix))."""
    rs, defs = ruleset_from_json_schema({
        "type": "object",
        "properties": {
            "arr": {"items": [{"minimum": 10}], "additionalItems": {"maximum": 3}}
        },
    })
    df = spark.createDataFrame(
        [(0, [10, 1]), (1, [5, 1]), (2, [10, 7])], "doc_id long, arr array<long>"
    )
    got = {(r["doc_id"], r["rule_id"]) for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {(1, "arr.prefixItems"), (2, "arr.items")}


def test_import_edge_subschemas():
    # annotation-only propertyNames is a valid no-op
    rs, _ = ruleset_from_json_schema(
        {"type": "object",
         "properties": {"m": {"type": "object", "propertyNames": {"title": "x"}}}}
    )
    assert all(r.kind != "propertyNames" for r in rs.rules)
    # discriminator without mapping raises descriptively
    with pytest.raises(ValueError, match="explicit `mapping`"):
        ruleset_from_json_schema(
            {"type": "object",
             "properties": {"m": {"type": "object",
                                  "discriminator": {"propertyName": "kind"}}}}
        )


def test_cli_schema_over_jsonl_end_to_end(tmp_path, spark):
    """The reference's full workflow on this engine: raw JSON file in,
    JSON-Schema document as the contract, violation report out."""
    import json

    from json_validator_spark.cli import main

    (tmp_path / "docs.jsonl").write_text(
        "\n".join(
            [
                '{"doc_id": 1, "name": "alice", "n": 10}',
                '{"doc_id": 2, "name": "X", "n": 300}',
                "not json at all",
            ]
        )
    )
    (tmp_path / "schema.json").write_text(json.dumps({
        "type": "object",
        "required": ["name"],
        "properties": {
            "name": {"minLength": 2, "pattern": "^[a-z]+$"},
            "n": {"maximum": 100},
        },
    }))
    out = str(tmp_path / "out")
    rc = main([
        "validate", "--input", str(tmp_path / "docs.jsonl"), "--output", out,
        "--input-format", "jsonl", "--input-schema", "doc_id long, name string, n long",
        "--schema", str(tmp_path / "schema.json"),
    ])
    assert rc == 0
    got = {
        (r["doc_id"], r["rule_id"])
        for r in spark.read.parquet(f"{out}/violations").collect()
    }
    assert {(d, rid) for d, rid in got if not d.startswith("corrupt:")} == {
        ("2", "name.minLength"), ("2", "name.pattern"), ("2", "n.maximum"),
    }
    assert any(d.startswith("corrupt:") and rid == "corrupt.document" for d, rid in got)


def test_import_prefix_items_plus_items_start_offset(spark):
    rs, defs = ruleset_from_json_schema(
        {
            "type": "object",
            "properties": {
                "arr": {
                    "type": "array",
                    "prefixItems": [{"minimum": 10}],
                    "items": {"maximum": 3},
                }
            },
        }
    )
    df = spark.createDataFrame(
        [(0, [10, 1, 2]), (1, [5, 1]), (2, [10, 7])], "doc_id long, arr array<long>"
    )
    got = {(r["doc_id"], r["rule_id"]) for r in violations_df(df, rs, definitions=defs).collect()}
    # doc 1: prefix fails (5 < 10); doc 2: remainder fails (7 > 3)
    assert got == {(1, "arr.prefixItems"), (2, "arr.items")}


# ----------------------------------------------------------------------
# Multi-document schema sets (SchemaRegistry — LocalSchemaCache analogue)
# ----------------------------------------------------------------------

ROOT_MULTI = {
    "$id": "https://example.test/root.schema.json",
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "required": ["name"],
    "$defs": {"localTag": {"pattern": "^t"}},
    "properties": {
        # relative cross-document ref (resolved against this doc's $id)
        "name": {"$ref": "common.schema.json#/$defs/shortName"},
        # absolute whole-document ref
        "addr": {"$ref": "https://example.test/address.schema.json"},
        # same-document ref keeps its literal key
        "tag": {"$ref": "#/$defs/localTag"},
    },
}
COMMON_MULTI = {
    "$id": "https://example.test/common.schema.json",
    "$defs": {
        "shortName": {"type": "string", "maxLength": 5,
                      "allOf": [{"$ref": "#/$defs/lower"}]},
        "lower": {"pattern": "^[a-z]+$"},
        "zip4": {"pattern": "^[0-9]{4}$"},
    },
}
ADDRESS_MULTI = {
    "$id": "https://example.test/address.schema.json",
    "type": "object",
    "required": ["city"],
    "properties": {
        "city": {"minLength": 2},
        # document→document chain: address refs common, relative
        "zip": {"$ref": "common.schema.json#/$defs/zip4"},
    },
}


def _registry():
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register(COMMON_MULTI)
    reg.register(ADDRESS_MULTI)
    return reg


def test_registry_add_path_scans_directories(tmp_path):
    import json

    from json_validator_spark.rules.schema_registry import SchemaRegistry

    d = tmp_path / "schemas"
    (d / "nested").mkdir(parents=True)
    (d / "common.json").write_text(json.dumps(COMMON_MULTI))
    (d / "nested" / "address.json").write_text(json.dumps(ADDRESS_MULTI))
    (d / "no_id.json").write_text(json.dumps({"type": "object"}))  # skipped
    reg = SchemaRegistry.from_paths([d])
    assert "https://example.test/common.schema.json" in reg
    # trailing-# normalization (LocalSchemaCache.schemaKey)
    assert "https://example.test/address.schema.json#" in reg
    assert reg.resolve("https://example.test/common.schema.json")["$id"] == (
        COMMON_MULTI["$id"]
    )


def test_registry_unresolvable_id_lists_inventory():
    reg = _registry()
    with pytest.raises(KeyError) as e:
        reg.resolve("https://example.test/nope.schema.json")
    msg = str(e.value)
    assert "nope.schema.json" in msg
    assert "common.schema.json" in msg and "address.schema.json" in msg


def test_registry_fetcher_authorize_then_fetch():
    """A cache miss asks the authorizer BEFORE the fetcher
    (LocalSchemaResolver.java:76-79): allowed prefixes fetch and cache,
    anything else raises without the fetcher ever being called."""
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    calls = []

    def fake_fetcher(uri):
        calls.append(uri)
        return {"$id": uri, "type": "object"}

    reg = SchemaRegistry(
        fetcher=fake_fetcher,
        allowed_uri_prefixes=["https://schemas.example.test/"],
    )
    reg.register(COMMON_MULTI)

    # preload wins: no fetch for a registered $id, even though allowed-less
    assert reg.resolve(COMMON_MULTI["$id"])["$id"] == COMMON_MULTI["$id"]
    assert calls == []

    # authorized miss: fetched once, then served from cache
    uri = "https://schemas.example.test/remote.schema.json"
    assert reg.resolve(uri)["$id"] == uri
    assert reg.resolve(uri)["$id"] == uri
    assert calls == [uri]

    # unauthorized miss: PermissionError, fetcher NOT called
    with pytest.raises(PermissionError) as e:
        reg.resolve("https://evil.example.test/remote.schema.json")
    assert "not authorized" in str(e.value)
    assert calls == [uri]


def test_registry_fetcher_without_authorizer_is_open():
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    reg = SchemaRegistry(fetcher=lambda uri: {"$id": uri})
    assert reg.resolve("https://anywhere.test/s.json")["$id"] == (
        "https://anywhere.test/s.json"
    )


def test_import_cross_document_refs_end_to_end(spark):
    rs, defs = ruleset_from_json_schema(ROOT_MULTI, registry=_registry())
    # foreign fragments landed under their $id namespace
    assert "https://example.test/common.schema.json#/$defs/shortName" in defs
    assert "https://example.test/common.schema.json#/$defs/lower" in defs
    assert "https://example.test/common.schema.json#/$defs/zip4" in defs
    assert "https://example.test/address.schema.json#" in defs
    assert "#/$defs/localTag" in defs  # root key unchanged

    rows = [
        (0, "alice", {"city": "NY", "zip": "1234"}, "t1"),   # clean
        (1, "Toolong7", {"zip": "12"}, "x"),                 # 4 violations
        (2, None, None, None),                               # required name
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, name string, addr map<string,string>, tag string"
    )
    got = sorted(
        (r.doc_id, r.rule_id)
        for r in violations_df(df, rs, definitions=defs).collect()
    )
    assert got == [
        (1, "addr.$ref"),        # whole-doc address: city missing + zip bad
        (1, "name.$ref"),        # shortName: maxLength + lower-pattern
        (1, "tag.$ref"),         # localTag pattern
        (2, "name.required"),
    ]


def test_import_cross_document_without_registry_raises():
    with pytest.raises(ValueError, match="SchemaRegistry"):
        ruleset_from_json_schema(ROOT_MULTI)


def test_import_unresolvable_foreign_id_raises():
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register(COMMON_MULTI)  # address.schema.json missing
    with pytest.raises(KeyError, match="address.schema.json"):
        ruleset_from_json_schema(ROOT_MULTI, registry=reg)


# ----------------------------------------------------------------------
# Recursive schemas: bounded unroll + flatten_recursive twin
# (the reference's shipped sample, etc/dev/sample/sample-v1.0/sample.json)
# ----------------------------------------------------------------------

SAMPLE = {  # verbatim shape of the reference's sample schema (draft-07)
    "$id": "https://example.com/arrays.schema.json",
    "$schema": "http://json-schema.org/draft-07/schema#",
    "description": "A representation of people",
    "type": "object",
    "properties": {
        "people": {"type": "array", "items": {"$ref": "#/definitions/person"}},
    },
    "definitions": {
        "person": {
            "type": "object",
            "required": ["firstName", "lastName"],
            "properties": {
                "firstName": {"type": "string", "description": "The first name."},
                "lastName": {"type": "string", "description": "The last name."},
                "age": {"type": "integer", "description": "The age."},
                "children": {"type": "array", "items": {"$ref": "#/definitions/person"}},
            },
        }
    },
}


def test_import_recursive_cycle_raises_without_unroll():
    from json_validator_spark.rules.compiler import normalize_rule

    rs, defs = ruleset_from_json_schema(SAMPLE)
    items_rule = next(r for r in rs.rules if r.kind == "items")
    # measured behavior at the recursion boundary: a clear compile-time
    # error, never an infinite loop or a silently-dropped constraint
    with pytest.raises(ValueError, match="cyclic \\$ref"):
        normalize_rule(items_rule, defs)


def test_import_recursive_unroll_shape():
    from json_validator_spark.rules.compiler import normalize_rule

    rs, defs = ruleset_from_json_schema(SAMPLE, max_ref_depth=2)
    assert defs["#/definitions/person"] == {
        "kind": "$ref", "params": {"ref": "#/definitions/person@1"}
    }
    assert "#/definitions/person@1" in defs and "#/definitions/person@2" in defs

    def find_boundary(node):
        if node.get("kind") == "refDepthExceeded":
            return True
        p = node.get("params", {})
        subs = [p.get("schema")] + list(p.get("schemas") or []) + list(
            (p.get("properties") or {}).values()
        )
        return any(find_boundary(s) for s in subs if isinstance(s, dict))

    assert not find_boundary(defs["#/definitions/person@1"])
    assert find_boundary(defs["#/definitions/person@2"])
    # and the unrolled form now COMPILES (no cycle error)
    items_rule = next(r for r in rs.rules if r.kind == "items")
    normalize_rule(items_rule, defs)


def test_flatten_recursive_validates_reference_sample(spark):
    """End-to-end task: the reference's recursive person schema over a
    small person corpus — flatten to node rows at depth ≤ 2, run the
    imported per-node rules, and surface nodes nesting DEEPER as
    explicit refDepthExceeded violations."""
    import json

    from json_validator_spark.sources.derive import flatten_recursive

    person = SAMPLE["definitions"]["person"]
    person_top = {
        "type": "object",
        "required": person["required"],
        "properties": {
            k: v for k, v in person["properties"].items() if k != "children"
        },
    }
    rs, defs = ruleset_from_json_schema(person_top, name="person")

    docs = [
        (0, [{"firstName": "ann", "lastName": "lee", "age": 31,
              "children": [{"firstName": "bo", "lastName": "lee", "age": 4}]}]),
        # missing lastName at depth 1; age non-integer at depth 0
        (1, [{"firstName": "cy", "lastName": "orr", "age": "x",
              "children": [{"firstName": "dee"}]}]),
        # nests to depth 3: the depth-2 node has children -> boundary
        (2, [{"firstName": "e", "lastName": "f",
              "children": [{"firstName": "g", "lastName": "h",
                            "children": [{"firstName": "i", "lastName": "j",
                                          "children": [{"firstName": "k", "lastName": "l"}]}]}]}]),
        (3, [{"lastName": "only"}]),  # missing firstName at depth 0
    ]
    df = spark.createDataFrame(
        [(i, json.dumps(p)) for i, p in docs], "doc_id long, people_json string"
    )
    nodes = flatten_recursive(
        df, "people_json",
        {"firstName": "string", "lastName": "string", "age": "string"},
        max_depth=2,
    )
    v = violations_df(
        nodes.withColumn("node_id", F.concat("doc_id", F.lit(":"), "node_path"))
        .drop("doc_id").withColumnRenamed("node_id", "doc_id"),
        rs, definitions=defs,
    ).select("doc_id", "rule_id")
    boundary = nodes.where((F.col("depth") == 2) & (F.col("n_children") > 0)).select(
        F.concat("doc_id", F.lit(":"), "node_path").alias("doc_id"),
        F.lit("person.refDepthExceeded").alias("rule_id"),
    )
    got = sorted((r.doc_id, r.rule_id) for r in v.unionByName(boundary).collect())
    assert got == [
        ("1:/people/0", "age.type"),
        ("1:/people/0/children/0", "lastName.required"),
        ("2:/people/0/children/0/children/0", "person.refDepthExceeded"),
        ("3:/people/0", "firstName.required"),
    ]


def test_import_unevaluated_sibling_allof_union(spark):
    """Static sibling-allOf approximation of draft-2020-12 annotation
    flow: keys/prefixes contributed by literal allOf members count as
    evaluated for unevaluatedProperties/unevaluatedItems."""
    schema = {
        "type": "object",
        "properties": {
            "m": {
                "allOf": [{"properties": {"a": {}, "b": {}}},
                          {"patternProperties": {"^x": {}}}],
                "properties": {"own": {}},
                "unevaluatedProperties": False,
            },
            "t": {
                "allOf": [{"prefixItems": [{}, {}, {}]}],
                "unevaluatedItems": False,
            },
        },
    }
    rs, defs = ruleset_from_json_schema(schema)
    up = next(r for r in rs.rules if r.kind == "unevaluatedProperties")
    assert up.params["allowed"] == ["a", "b", "own"]
    assert up.params["allowed_patterns"] == ["^x"]
    ui = next(r for r in rs.rules if r.kind == "unevaluatedItems")
    assert ui.params["start"] == 3
    assert ui.params["schema"] == {"kind": "false", "params": {}}

    rows = [
        (0, {"a": "1", "x9": "2", "own": "3"}, [1, 2, 3]),        # clean
        (1, {"a": "1", "zz": "2"}, [1, 2, 3, 4]),                 # both fail
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, m map<string,string>, t array<int>"
    )
    got = sorted(
        (r.doc_id, r.rule_id) for r in violations_df(df, rs, definitions=defs).collect()
    )
    assert got == [(1, "m.unevaluatedProperties"), (1, "t.unevaluatedItems")]


def test_import_unevaluated_dynamic_contributors(spark):
    """DYNAMIC draft-2020-12 annotation flow (r4): keys contributed by
    sibling anyOf/oneOf/if-then-else branches count as evaluated ONLY on
    rows where the branch passes — and for oneOf, only when the keyword
    as a whole succeeds (exactly one branch), the spec's
    annotation-retention rule. Exhaustive over all 32 presence
    combinations of five keys, cross-checked against an independently
    hand-derived Python model of the evaluated-set semantics."""
    schema = {
        "type": "object",
        "properties": {
            "pm": {
                "properties": {"id": {}},
                "anyOf": [
                    {"required": ["a"], "properties": {"b": {}}},
                    {"required": ["b"], "patternProperties": {"^x": {}}},
                ],
                "if": {"required": ["c"]},
                "then": {"properties": {"a": {}}},
                "else": {"properties": {"x1": {}}},
                "oneOf": [
                    {"required": ["a"], "properties": {"c": {}}},
                    {"required": ["b"], "properties": {"c": {}}},
                ],
                "unevaluatedProperties": False,
            },
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="dyn")
    up = next(r for r in rs.rules if r.kind == "unevaluatedProperties")
    assert len(up.params["contributors"]) == 6  # 2 anyOf + 2 oneOf + then + else

    keys = ["a", "b", "c", "x1", "zz"]
    rows = []
    for d in range(32):
        present = {k for i, k in enumerate(keys) if d >> i & 1}
        rows.append((d, {k: "v" for k in ["id", *present]}))
    df = spark.createDataFrame(rows, "doc_id long, pm map<string,string>")
    got = {
        (r.doc_id, r.rule_id)
        for r in violations_df(df, rs, definitions=defs).collect()
    }

    expect = set()
    for d, pm in rows:
        a, b, c, x1, zz = (k in pm for k in keys)
        evaluated = {"id"}
        if a:
            evaluated.add("b")            # anyOf branch 1 passes
        if b:
            evaluated |= {"x1"} & set(pm)  # anyOf branch 2: ^x pattern
        if c:
            evaluated.add("a")            # if passes -> then's properties
        else:
            evaluated.add("x1")           # if fails -> else's properties
        if a != b:                         # oneOf exactly-one: annotations kept
            evaluated.add("c")
        if set(pm) - evaluated:
            expect.add((d, "pm.unevaluatedProperties"))
        if not (a or b):
            expect.add((d, "pm.anyOf"))
        if a == b:
            expect.add((d, "pm.oneOf"))
    assert got == expect
    # the two load-bearing shapes must actually occur in the 32 combos:
    # a passing else-branch rescues x1 (x1-only row is clean) ...
    assert (0b01000, "pm.unevaluatedProperties") not in got
    # ... and a failing oneOf orphans c even though c is present (a+b+c)
    assert (0b00111, "pm.unevaluatedProperties") in got


def test_import_unevaluated_items_dynamic_prefix(spark):
    """unevaluatedItems under dynamic flow: a passing if-branch widens
    the evaluated tuple prefix per row; a non-tuple `items: true` in a
    passing branch evaluates everything (keyword passes outright)."""
    schema = {
        "type": "object",
        "properties": {
            "t": {
                "allOf": [{"prefixItems": [{}, {}]}],
                "if": {"contains": {"minimum": 5}},
                "then": {"prefixItems": [{}, {}, {}]},
                "unevaluatedItems": {"maximum": 3},
            },
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="dynitems")
    ui = next(r for r in rs.rules if r.kind == "unevaluatedItems")
    assert ui.params["start"] == 2
    assert ui.params["contributors"] == [
        {"when": ui.params["contributors"][0]["when"], "start": 3, "full": False}
    ]
    rows = [
        (0, [1, 2, 9]),       # contains >=5 -> prefix 3 -> no remainder: pass
        (1, [1, 2, 9, 4]),    # prefix 3, remainder [4] > 3: fail
        (2, [1, 2, 2]),       # no >=5 -> prefix 2, remainder [2] <= 3: pass
        (3, [1, 2, 4]),       # prefix 2, remainder [4] > 3: fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, t array<int>")
    got = sorted(
        r.doc_id for r in violations_df(df, rs, definitions=defs).collect()
    )
    assert got == [1, 3]

    # full-items contributor: `items: true` in a passing then-branch
    # evaluates every element -> keyword is a per-row no-op
    schema2 = {
        "type": "object",
        "properties": {
            "t": {
                "if": {"contains": {"minimum": 5}},
                "then": {"items": True},
                "unevaluatedItems": False,
            },
        },
    }
    rs2, defs2 = ruleset_from_json_schema(schema2, name="dynfull")
    ui2 = next(r for r in rs2.rules if r.kind == "unevaluatedItems")
    assert ui2.params["contributors"][0]["full"] is True
    df2 = spark.createDataFrame([(0, [9, 1]), (1, [1, 2])], "doc_id long, t array<int>")
    got2 = sorted(
        r.doc_id for r in violations_df(df2, rs2, definitions=defs2).collect()
    )
    assert got2 == [1]  # row 0 rescued by the passing branch, row 1 not


def test_import_unevaluated_properties_schema_form_raises():
    with pytest.raises(ValueError, match="unevaluatedProperties"):
        ruleset_from_json_schema({
            "type": "object",
            "properties": {"m": {"unevaluatedProperties": {"maxLength": 3}}},
        })


def test_import_anchor_fragments(spark):
    """Plain-name fragments resolve to the subschema declaring
    ``$anchor`` (2020-12) or ``$id: "#name"`` (draft-7) — networknt's
    anchor addressing, same-document and cross-document."""
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    shared = {
        "$id": "https://example.test/anchored.schema.json",
        "$defs": {
            "inner": {"$anchor": "tag", "pattern": "^t"},
            "legacy": {"$id": "#old", "maxLength": 2},
        },
    }
    root = {
        "$id": "https://example.test/aroot.schema.json",
        "type": "object",
        "properties": {
            "a": {"$ref": "anchored.schema.json#tag"},
            "b": {"$ref": "anchored.schema.json#old"},
            # an anchor-shaped `default` VALUE earlier in the document is
            # data, not a subschema: `#loc` must still reach the $defs one
            "z": {"default": {"$anchor": "loc"}},
            "c": {"$ref": "#loc"},
        },
        "$defs": {"local": {"$anchor": "loc", "minLength": 2}},
    }
    reg = SchemaRegistry()
    reg.register(shared)
    rs, defs = ruleset_from_json_schema(root, registry=reg)
    df = spark.createDataFrame(
        [(0, "tx", "ab", "xy"), (1, "nope", "toolong", "z")],
        "doc_id long, a string, b string, c string",
    )
    got = sorted(
        (r.doc_id, r.rule_id) for r in violations_df(df, rs, definitions=defs).collect()
    )
    assert got == [(1, "a.$ref"), (1, "b.$ref"), (1, "c.$ref")]


def test_import_missing_anchor_raises():
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register({"$id": "https://example.test/anchored.schema.json"})
    with pytest.raises(ValueError, match="no \\$anchor"):
        ruleset_from_json_schema({
            "$id": "https://example.test/aroot.schema.json",
            "type": "object",
            "properties": {"a": {"$ref": "anchored.schema.json#missing"}},
        }, registry=reg)


def test_cli_shared_schemas_and_ref_depth(tmp_path, spark):
    import json

    from json_validator_spark.cli import main

    (tmp_path / "shared").mkdir()
    (tmp_path / "shared" / "common.json").write_text(json.dumps({
        "$id": "https://example.test/c.json",
        "$defs": {"short": {"maxLength": 3}},
    }))
    (tmp_path / "schema.json").write_text(json.dumps({
        "$id": "https://example.test/root.json",
        "type": "object",
        "properties": {"name": {"$ref": "c.json#/$defs/short"}},
    }))
    (tmp_path / "docs.jsonl").write_text(
        '{"doc_id": 1, "name": "ok"}\n{"doc_id": 2, "name": "toolong"}\n'
    )
    out = str(tmp_path / "out")
    rc = main([
        "validate", "--input", str(tmp_path / "docs.jsonl"), "--output", out,
        "--input-format", "jsonl", "--input-schema", "doc_id long, name string",
        "--schema", str(tmp_path / "schema.json"),
        "--shared-schemas", str(tmp_path / "shared"),
    ])
    assert rc == 0
    got = {
        (r["doc_id"], r["rule_id"])
        for r in spark.read.parquet(f"{out}/violations").collect()
    }
    assert got == {("2", "name.$ref")}


def test_import_if_then_else(spark):
    """draft-7 conditionals compile to the exact boolean composition
    (if => then) AND (not if => else); then/else without if are inert
    applicators per spec."""
    schema = {
        "type": "object",
        "properties": {
            # if value looks numeric then it must be short, else ^x
            "v": {"if": {"pattern": "^[0-9]+$"},
                  "then": {"maxLength": 3},
                  "else": {"pattern": "^x"}},
            # then without if: no rule emitted for the conditional part
            "w": {"then": {"maxLength": 1}, "minLength": 1},
        },
    }
    rs, defs = ruleset_from_json_schema(schema)
    assert [r.kind for r in rs.rules if r.column == "w"] == ["minLength"]
    rows = [
        (0, "123", "a"),      # numeric, short -> pass
        (1, "1234", "a"),     # numeric, long -> then fails
        (2, "xab", "a"),      # non-numeric, ^x -> pass
        (3, "yab", "a"),      # non-numeric, no ^x -> else fails
        (4, None, "a"),       # absent -> vacuous pass
    ]
    df = spark.createDataFrame(rows, "doc_id long, v string, w string")
    got = sorted(
        (r.doc_id, r.rule_id) for r in violations_df(df, rs, definitions=defs).collect()
    )
    assert got == [(1, "v.ifThenElse"), (3, "v.ifThenElse")]


def test_registry_import_total_under_random_ref_graphs():
    """Property fuzz over the multi-document worklist + bounded unroll:
    for ANY ref graph across three documents (including cycles, missing
    targets, anchors), import either compiles or raises a clean
    ValueError/KeyError — never hangs, never leaks another exception —
    and whatever compiles also normalizes (or names the cycle)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from json_validator_spark.rules.compiler import normalize_rule
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    ids = ["https://t.test/a.json", "https://t.test/b.json"]
    def_names = ["d0", "d1", "d2"]
    # a ref target: same-doc def, cross-doc def, whole doc, or a bogus id
    targets = (
        [f"#/$defs/{n}" for n in def_names]
        + [f"{i}#/$defs/{n}" for i in ids for n in def_names]
        + ids
        + ["https://t.test/missing.json#/$defs/d0"]
    )
    leaf = st.sampled_from(
        [{"minLength": 1}, {"maximum": 10}, {"pattern": "^a"}, True]
    )
    node = st.one_of(
        leaf,
        st.sampled_from(targets).map(lambda t: {"$ref": t}),
        st.tuples(st.sampled_from(targets), leaf).map(
            lambda p: {"allOf": [{"$ref": p[0]}, p[1] if p[1] is not True else {}]}
        ),
    )

    @settings(max_examples=120, deadline=None)
    @given(
        defs_a=st.lists(node, min_size=3, max_size=3),
        defs_b=st.lists(node, min_size=3, max_size=3),
        root_defs=st.lists(node, min_size=3, max_size=3),
        prop=node,
        depth=st.sampled_from([None, 1, 2]),
    )
    def run(defs_a, defs_b, root_defs, prop, depth):
        reg = SchemaRegistry()
        reg.register({"$id": ids[0], "$defs": dict(zip(def_names, defs_a))})
        reg.register({"$id": ids[1], "$defs": dict(zip(def_names, defs_b))})
        root = {
            "$id": "https://t.test/root.json",
            "type": "object",
            "$defs": dict(zip(def_names, root_defs)),
            "properties": {"p": prop},
        }
        try:
            rs, d = ruleset_from_json_schema(
                root, registry=reg, max_ref_depth=depth
            )
        except (ValueError, KeyError):
            return  # clean refusal (missing id / fragment / bad shape)
        for r in rs.rules:
            try:
                normalize_rule(r, d)
            except ValueError as e:
                assert "cyclic" in str(e) or "unresolved" in str(e)

    run()


# ----------------------------------------------------------------------
# 2020-12 $dynamicRef / $dynamicAnchor — static entry-chain binding
# ----------------------------------------------------------------------

TREE_DOC = {  # the spec's extensible-tree library schema (§ strict-tree)
    "$id": "https://example.test/tree",
    "$dynamicAnchor": "node",
    "type": "object",
    "properties": {
        "data": {"type": "string"},
        "children": {"type": "array", "items": {"$dynamicRef": "#node"}},
    },
}
STRICT_TREE_DOC = {
    "$id": "https://example.test/strict-tree",
    "$dynamicAnchor": "node",
    "$ref": "https://example.test/tree",
    "unevaluatedProperties": False,
}


def test_dynamic_ref_self_binding_recursion():
    """With no override in scope, $dynamicRef '#node' binds to its own
    document's $dynamicAnchor — plain recursive-$ref behavior, bounded
    by max_ref_depth like any cycle."""
    from json_validator_spark.rules.compiler import normalize_rule

    schema = {
        "type": "object",
        "$defs": {
            "node": {
                "$dynamicAnchor": "node",
                "required": ["data"],
                "properties": {
                    "kids": {"type": "array", "items": {"$dynamicRef": "#node"}}
                },
            }
        },
        "properties": {"tree_json": {"$ref": "#/$defs/node"}},
    }
    rs, defs = ruleset_from_json_schema(schema, max_ref_depth=2)
    assert "#node" in defs  # the dynamic binding compiled under its anchor key
    # the recursion unrolled: depth copies exist and the rule normalizes
    assert any(k.startswith("#node@") for k in defs)
    ref_rule = next(r for r in rs.rules if r.kind == "$ref")
    normalize_rule(ref_rule, defs)
    # without the unroll the cycle is an explicit compile error
    with pytest.raises(ValueError, match="cyclic"):
        rs2, defs2 = ruleset_from_json_schema(schema)
        normalize_rule(next(r for r in rs2.rules if r.kind == "$ref"), defs2)


def test_dynamic_ref_strict_tree_override_shape():
    """The spec's canonical strict-tree pattern: the entry chain's
    outermost $dynamicAnchor 'node' (strict-tree) captures tree's
    recursive $dynamicRef, and unevaluatedProperties: false sees tree's
    properties through the sibling-$ref evaluated-set closure."""
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register(TREE_DOC)
    reg.register(STRICT_TREE_DOC)
    entry = {
        "type": "object",
        "properties": {"tree_json": {"$ref": "https://example.test/strict-tree"}},
    }
    rs, defs = ruleset_from_json_schema(entry, registry=reg, max_ref_depth=2)
    # tree's items/$dynamicRef re-routed to the strict-tree binding
    strict_key = "https://example.test/strict-tree#node"

    def refs_of(node, out):
        if node.get("kind") == "$ref":
            out.add(node["params"]["ref"])
        p = node.get("params", {})
        for s in [p.get("schema")] + list(p.get("schemas") or []) + list(
            (p.get("properties") or {}).values()
        ):
            if isinstance(s, dict):
                refs_of(s, out)
        return out

    tree_refs: set = set()
    for k, v in defs.items():  # all depth copies of the tree definition
        if k.startswith("https://example.test/tree#"):
            refs_of(v, tree_refs)
    assert any(
        r == strict_key or r.startswith(strict_key + "@") for r in tree_refs
    )
    # the strict node's unevaluatedProperties knows tree's keys statically
    # (the bare key aliases its depth-1 unroll copy)
    strict_def = defs[strict_key + "@1"]
    ups = [
        n for n in strict_def["params"]["schemas"]
        if n["kind"] == "unevaluatedProperties"
    ]
    assert ups and ups[0]["params"]["allowed"] == ["children", "data"]
    # plain-tree entry (no override in scope): the ref binds back to tree
    rs2, defs2 = ruleset_from_json_schema(
        {"type": "object",
         "properties": {"tree_json": {"$ref": "https://example.test/tree"}}},
        registry=reg, max_ref_depth=2,
    )
    tree_key = "https://example.test/tree#node"
    assert any(
        r == tree_key or r.startswith(tree_key + "@")
        for r in refs_of(defs2["https://example.test/tree#"], set())
    )
    assert not any(k.startswith("https://example.test/strict-tree") for k in defs2)


def test_dynamic_ref_extension_point_override(spark):
    """A library exposes an extension point via $dynamicRef; the entry
    schema's $dynamicAnchor overrides it — values legal under the
    library default become violations under the override."""
    lib = {
        "$id": "https://example.test/lib",
        "$defs": {
            "ext": {"$dynamicAnchor": "ext", "type": "string"},
            "holder": {"$dynamicRef": "#ext"},
        },
    }
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register(lib)
    with_override = {
        "type": "object",
        "$defs": {"strictExt": {"$dynamicAnchor": "ext", "pattern": "^x"}},
        "properties": {"field": {"$ref": "https://example.test/lib#/$defs/holder"}},
    }
    without = {
        "type": "object",
        "properties": {"field": {"$ref": "https://example.test/lib#/$defs/holder"}},
    }
    df = spark.createDataFrame([(0, "zz")], "doc_id long, field string")
    rs_o, defs_o = ruleset_from_json_schema(with_override, registry=reg)
    got = [(r.doc_id, r.rule_id) for r in violations_df(df, rs_o, definitions=defs_o).collect()]
    assert got == [(0, "field.$ref")]  # entry override: pattern ^x fires
    rs_p, defs_p = ruleset_from_json_schema(without, registry=reg)
    assert violations_df(df, rs_p, definitions=defs_p).count() == 0  # lib default
    # bookending: an initial target WITHOUT $dynamicAnchor stays a plain $ref
    lib_plain = {
        "$id": "https://example.test/lib2",
        "$defs": {
            "ext": {"$anchor": "ext", "type": "string"},
            "holder": {"$dynamicRef": "#ext"},
        },
    }
    reg2 = SchemaRegistry()
    reg2.register(lib_plain)
    rs_b, defs_b = ruleset_from_json_schema(
        {
            "type": "object",
            "$defs": {"strictExt": {"$dynamicAnchor": "ext", "pattern": "^x"}},
            "properties": {"field": {"$ref": "https://example.test/lib2#/$defs/holder"}},
        },
        registry=reg2,
    )
    assert violations_df(df, rs_b, definitions=defs_b).count() == 0


def test_dynamic_ref_error_shapes():
    with pytest.raises(ValueError, match="plain-name fragments"):
        ruleset_from_json_schema(
            {"type": "object", "properties": {"f": {"$dynamicRef": "#/$defs/x"}}}
        )
    with pytest.raises(ValueError, match="no anchor"):
        ruleset_from_json_schema(
            {"type": "object", "properties": {"f": {"$dynamicRef": "#missing"}}}
        )


def test_unevaluated_sibling_ref_closure(spark):
    """unevaluatedProperties: false with a sibling $ref counts the
    ref'd schema's keys as evaluated (transitively), per 2020-12
    annotation flow — previously only literal allOf members counted."""
    schema = {
        "type": "object",
        "$defs": {
            "base": {"properties": {"a": {}, "b": {}},
                     "allOf": [{"$ref": "#/$defs/base2"}]},
            "base2": {"properties": {"c": {}}},
        },
        "properties": {
            "m": {"$ref": "#/$defs/base", "properties": {"own": {}},
                  "unevaluatedProperties": False},
        },
    }
    rs, defs = ruleset_from_json_schema(schema)
    up = next(r for r in rs.rules if r.kind == "unevaluatedProperties")
    assert up.params["allowed"] == ["a", "b", "c", "own"]
    rows = [(0, {"a": "1", "c": "2", "own": "3"}), (1, {"zz": "1"})]
    df = spark.createDataFrame(rows, "doc_id long, m map<string,string>")
    got = sorted(
        (r.doc_id, r.rule_id)
        for r in violations_df(df, rs, definitions=defs).collect()
        if r.rule_id == "m.unevaluatedProperties"
    )
    assert got == [(1, "m.unevaluatedProperties")]


def test_unevaluated_contributor_in_registry_document(spark):
    """A dynamic contributor branch reached through the sibling `$ref`
    sits in another document, so its own `$ref`s resolve against THAT
    document: the branch's `#/$defs/x` is the library's, not the
    entry's (which has no `$defs`)."""
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register({
        "$id": "https://example.test/uneval-lib",
        "$defs": {"x": {"properties": {"a": {"maxLength": 2}}}},
        "anyOf": [{"$ref": "#/$defs/x"}],
    })
    schema = {
        "$id": "https://example.test/uneval-entry",
        "type": "object",
        "properties": {
            "m": {"$ref": "uneval-lib", "unevaluatedProperties": False},
        },
    }
    rs, defs = ruleset_from_json_schema(schema, registry=reg)
    rows = [(0, {"a": "ab"}), (1, {"a": "abc"}), (2, {"b": "x"})]
    df = spark.createDataFrame(rows, "doc_id long, m map<string,string>")
    got = sorted(
        (r.doc_id, r.rule_id)
        for r in violations_df(df, rs, definitions=defs).collect()
    )
    # row 1 fails the library's anyOf, so `a` is not evaluated; row 2's
    # `b` is evaluated by no branch
    assert got == [
        (1, "m.$ref"), (1, "m.unevaluatedProperties"),
        (2, "m.unevaluatedProperties"),
    ]


def test_unevaluated_items_full_items_noop():
    """A non-tuple `items` in the closure evaluates every element, so
    unevaluatedItems is a spec no-op and emits no rule."""
    rs, defs = ruleset_from_json_schema({
        "type": "object",
        "properties": {
            "t": {"items": {"type": "integer"}, "unevaluatedItems": False},
        },
    })
    assert not [r for r in rs.rules if r.kind == "unevaluatedItems"]
    assert [r for r in rs.rules if r.kind == "items"]


def test_import_total_under_random_dynamic_ref_graphs():
    """Property fuzz extending the worklist fuzz with $dynamicAnchor /
    $dynamicRef: for ANY placement of dynamic anchors and dynamic refs
    across three documents (overrides, self-bindings, missing anchors,
    cycles), import either compiles or raises a clean ValueError/
    KeyError — never hangs — and whatever compiles also normalizes (or
    names the cycle)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from json_validator_spark.rules.compiler import normalize_rule
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    ids = ["https://t.test/a.json", "https://t.test/b.json"]
    def_names = ["d0", "d1", "d2"]
    anchor_names = ["x", "y"]
    ref_targets = (
        [f"#/$defs/{n}" for n in def_names]
        + [f"{i}#/$defs/{n}" for i in ids for n in def_names]
        + ids
    )
    dyn_targets = [f"#{a}" for a in anchor_names] + ["#missing"]
    leaf = st.sampled_from([{"minLength": 1}, {"maximum": 10}, True])

    def with_anchor(pair):
        anchor, body = pair
        out = dict(body) if isinstance(body, dict) else {}
        if anchor is not None:
            out["$dynamicAnchor"] = anchor
        return out

    node = st.one_of(
        st.tuples(st.sampled_from(anchor_names + [None]), leaf).map(with_anchor),
        st.sampled_from(ref_targets).map(lambda t: {"$ref": t}),
        st.tuples(
            st.sampled_from(anchor_names + [None]), st.sampled_from(dyn_targets)
        ).map(lambda p: with_anchor((p[0], {"$dynamicRef": p[1]}))),
        st.tuples(st.sampled_from(ref_targets), st.sampled_from(dyn_targets)).map(
            lambda p: {"allOf": [{"$ref": p[0]}, {"$dynamicRef": p[1]}]}
        ),
    )

    @settings(max_examples=120, deadline=None)
    @given(
        defs_a=st.lists(node, min_size=3, max_size=3),
        defs_b=st.lists(node, min_size=3, max_size=3),
        root_defs=st.lists(node, min_size=3, max_size=3),
        prop=node,
        depth=st.sampled_from([None, 1, 2]),
    )
    def run(defs_a, defs_b, root_defs, prop, depth):
        reg = SchemaRegistry()
        reg.register({"$id": ids[0], "$defs": dict(zip(def_names, defs_a))})
        reg.register({"$id": ids[1], "$defs": dict(zip(def_names, defs_b))})
        root = {
            "$id": "https://t.test/root.json",
            "type": "object",
            "$defs": dict(zip(def_names, root_defs)),
            "properties": {"p": prop},
        }
        try:
            rs, d = ruleset_from_json_schema(root, registry=reg, max_ref_depth=depth)
        except (ValueError, KeyError):
            return  # clean refusal (missing anchor / id / bad shape)
        for r in rs.rules:
            try:
                normalize_rule(r, d)
            except ValueError as e:
                assert "cyclic" in str(e) or "unresolved" in str(e)

    run()


def test_import_total_under_random_recursive_ref_graphs():
    """The 2019-09 twin of the dynamic-ref graph fuzz: for ANY placement
    of ``$recursiveAnchor`` (true/false — false means no anchor) and
    ``$recursiveRef: "#"`` across three documents, plus mixtures with
    plain ``$ref`` and the 2020-12 dynamic forms they rewrite into,
    import either compiles or raises a clean ValueError/KeyError — never
    hangs — and whatever compiles normalizes (or names the cycle)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from json_validator_spark.rules.compiler import normalize_rule
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    ids = ["https://r.test/a.json", "https://r.test/b.json"]
    def_names = ["d0", "d1", "d2"]
    ref_targets = (
        [f"#/$defs/{n}" for n in def_names]
        + [f"{i}#/$defs/{n}" for i in ids for n in def_names]
        + ids
    )
    leaf = st.sampled_from([{"minLength": 1}, {"maximum": 10}, True])

    def with_anchor(pair):
        anchor, body = pair
        out = dict(body) if isinstance(body, dict) else {}
        if anchor is not None:
            out["$recursiveAnchor"] = anchor
        return out

    anchor_vals = st.sampled_from([True, False, None])
    node = st.one_of(
        st.tuples(anchor_vals, leaf).map(with_anchor),
        st.sampled_from(ref_targets).map(lambda t: {"$ref": t}),
        anchor_vals.map(lambda a: with_anchor((a, {"$recursiveRef": "#"}))),
        st.sampled_from(ref_targets).map(
            lambda t: {"allOf": [{"$ref": t}, {"$recursiveRef": "#"}]}
        ),
    )
    root_anchor = st.sampled_from([True, False, None])

    @settings(max_examples=120, deadline=None)
    @given(
        defs_a=st.lists(node, min_size=3, max_size=3),
        defs_b=st.lists(node, min_size=3, max_size=3),
        root_defs=st.lists(node, min_size=3, max_size=3),
        prop=node,
        anc_a=root_anchor, anc_b=root_anchor, anc_root=root_anchor,
        depth=st.sampled_from([None, 1, 2]),
    )
    def run(defs_a, defs_b, root_defs, prop, anc_a, anc_b, anc_root, depth):
        def doc(i, defs, anc):
            d = {"$id": i, "$defs": dict(zip(def_names, defs))}
            if anc is not None:
                d["$recursiveAnchor"] = anc
            return d

        reg = SchemaRegistry()
        reg.register(doc(ids[0], defs_a, anc_a))
        reg.register(doc(ids[1], defs_b, anc_b))
        root = doc("https://r.test/root.json", root_defs, anc_root)
        root["type"] = "object"
        root["properties"] = {"p": prop}
        try:
            rs, d = ruleset_from_json_schema(root, registry=reg, max_ref_depth=depth)
        except (ValueError, KeyError):
            return  # clean refusal (bad shape / missing target / depth)
        for r in rs.rules:
            try:
                normalize_rule(r, d)
            except ValueError as e:
                assert "cyclic" in str(e) or "unresolved" in str(e)

    run()


def test_fuzz_dynamic_annotation_flow_vs_python_model(spark):
    """Differential fuzz of the DYNAMIC unevaluatedProperties flow:
    randomly composed sibling applicators (anyOf/oneOf/if-then-else/
    dependentSchemas over presence-only branch schemas) on random key
    subsets, checked per doc against an independent pure-Python
    evaluator of draft-2020-12 annotation semantics (annotations count
    iff the branch AND its applicator keyword validate). Branch bodies
    use only `required` + trivial property/pattern subschemas, so
    assertion failures can't mask annotation-flow divergences."""
    import random

    keys = ["a", "b", "c", "x1", "x2", "zz"]

    def gen_branch(rng):
        b = {}
        if rng.random() < 0.9:
            b["required"] = sorted(rng.sample(keys, rng.randint(1, 2)))
        evs = {}
        for k in rng.sample(keys, rng.randint(0, 3)):
            evs[k] = {}
        if evs:
            b["properties"] = evs
        if rng.random() < 0.4:
            b["patternProperties"] = {"^x": {}}
        return b or {"required": [rng.choice(keys)]}

    def branch_pass(b, present):
        return all(k in present for k in b.get("required", []))

    def branch_evaluated(b, present):
        ev = set(b.get("properties", {}))
        if "^x" in str(b.get("patternProperties", {})):
            ev |= {k for k in present if k.startswith("x")}
        return ev

    for seed in range(8):
        rng = random.Random(1000 + seed)
        pm = {"properties": {k: {} for k in rng.sample(keys, 2)},
              "unevaluatedProperties": False}
        if rng.random() < 0.8:
            pm["anyOf"] = [gen_branch(rng) for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.8:
            pm["oneOf"] = [gen_branch(rng) for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.8:
            pm["if"] = {"required": sorted(rng.sample(keys, 1))}
            if rng.random() < 0.9:
                pm["then"] = gen_branch(rng)
            if rng.random() < 0.9:
                pm["else"] = gen_branch(rng)
        if rng.random() < 0.5:
            dk = rng.choice(keys)
            pm["dependentSchemas"] = {dk: gen_branch(rng)}
        schema = {"type": "object", "properties": {"pm": pm}}
        rs, defs = ruleset_from_json_schema(schema, name=f"fuzz{seed}")

        rows = [(d, {k: "v" for i, k in enumerate(keys) if d >> i & 1})
                for d in range(64)]
        df = spark.createDataFrame(rows, "doc_id long, pm map<string,string>")
        got = {r.doc_id for r in violations_df(df, rs, definitions=defs).collect()
               if r.rule_id == "pm.unevaluatedProperties"}

        expect = set()
        for d, doc in rows:
            present = set(doc)
            ev = set(pm["properties"])
            for b in pm.get("anyOf", []):
                if branch_pass(b, present):
                    ev |= branch_evaluated(b, present)
            one = pm.get("oneOf", [])
            if sum(branch_pass(b, present) for b in one) == 1:
                for b in one:
                    if branch_pass(b, present):
                        ev |= branch_evaluated(b, present)
            if "if" in pm:
                if_ok = branch_pass(pm["if"], present)
                if if_ok:
                    ev |= branch_evaluated(pm["if"], present)
                    if "then" in pm and branch_pass(pm["then"], present):
                        ev |= branch_evaluated(pm["then"], present)
                elif "else" in pm and branch_pass(pm["else"], present):
                    ev |= branch_evaluated(pm["else"], present)
            for dk, ds in pm.get("dependentSchemas", {}).items():
                if dk in present and branch_pass(ds, present):
                    ev |= branch_evaluated(ds, present)
            if present - ev:
                expect.add(d)
        assert got == expect, f"seed {seed}: {sorted(got ^ expect)}"


# ---------------------------------------------------------------- draft-4


def test_import_draft4_boolean_exclusive_bounds(spark):
    """Draft-4 spells exclusive bounds as a BOOLEAN modifier on the
    sibling minimum/maximum (networknt v4 mode, JSONValidator.java:321-345
    dialect selection): true moves the bound to strict, false keeps it
    inclusive. Boundary-value rows distinguish the two."""
    schema = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "type": "object",
        "properties": {
            "lo": {"minimum": 10, "exclusiveMinimum": True},
            "hi": {"maximum": 20, "exclusiveMaximum": False},
            "both": {"minimum": 0, "exclusiveMinimum": False,
                     "maximum": 5, "exclusiveMaximum": True},
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="d4")
    kinds = {r.rule_id: r.kind for r in rs.rules}
    assert kinds == {
        "lo.exclusiveMinimum": "exclusiveMinimum",
        "hi.maximum": "maximum",
        "both.minimum": "minimum",
        "both.exclusiveMaximum": "exclusiveMaximum",
    }
    df = spark.createDataFrame(
        [(0, 10, 20, 0), (1, 11, 21, 5), (2, 9, 19, -1)],
        "doc_id long, lo long, hi long, both long",
    )
    got = {(r.doc_id, r.rule_id)
           for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {
        (0, "lo.exclusiveMinimum"),   # 10 is NOT > 10 (strict)
        (1, "hi.maximum"),            # 21 > 20 (inclusive bound kept)
        (1, "both.exclusiveMaximum"), # 5 is NOT < 5 (strict)
        (2, "lo.exclusiveMinimum"),
        (2, "both.minimum"),          # -1 < 0 (inclusive bound kept)
    }


def test_import_draft4_boolean_exclusive_without_sibling_raises():
    """Boolean form without the sibling bound is a draft-4 schema error
    (the spec's MUST) — compile-time failure, never silence."""
    with pytest.raises(ValueError, match="requires a sibling minimum"):
        ruleset_from_json_schema(
            {"type": "object",
             "properties": {"a": {"exclusiveMinimum": True}}}
        )
    with pytest.raises(ValueError, match="requires a sibling maximum"):
        ruleset_from_json_schema(
            {"type": "object",
             "properties": {"a": {"exclusiveMaximum": False}}}
        )


def test_differential_draft4_boolean_bounds_fuzz(spark):
    """Differential fuzz of the draft-4 boolean-modifier rewrite: random
    bound configurations, boundary-adjacent values, and the expectation
    computed independently from the draft-4 spec text (§5.1.2/§5.1.3:
    exclusiveMinimum=true means x > minimum MUST hold, false/absent
    means x >= minimum). Exact integer bounds so boundary equality is
    never a float question. Any divergence between the importer+engine
    and the spec-written predicate fails the property."""
    import random

    rng = random.Random(0xD4)
    cols = ["a", "b", "c"]
    for trial in range(10):
        props: dict = {}
        spec: dict = {}
        for c in cols:
            m = rng.randint(-20, 20) if rng.random() < 0.8 else None
            mx = rng.randint(-20, 20) if rng.random() < 0.8 else None
            if m is not None and mx is not None and mx < m:
                m, mx = mx, m
            node: dict = {}
            em = emx = None
            if m is not None:
                node["minimum"] = m
                if rng.random() < 0.7:
                    em = rng.random() < 0.5
                    node["exclusiveMinimum"] = em
            if mx is not None:
                node["maximum"] = mx
                if rng.random() < 0.7:
                    emx = rng.random() < 0.5
                    node["exclusiveMaximum"] = emx
            if node:
                props[c] = node
                spec[c] = (m, bool(em), mx, bool(emx))
        if not props:
            continue
        schema = {
            "$schema": "http://json-schema.org/draft-04/schema#",
            "type": "object",
            "properties": props,
        }
        rs, defs = ruleset_from_json_schema(schema, name=f"d4f{trial}")

        def candidates(c):
            pool = [None, rng.randint(-25, 25)]
            if c in spec:
                m, _, mx, _ = spec[c]
                for b in (m, mx):
                    if b is not None:
                        pool += [b - 1, b, b + 1]
            return pool

        rows = []
        for i in range(12):
            rows.append(tuple([i] + [rng.choice(candidates(c)) for c in cols]))
        df = spark.createDataFrame(
            rows, "doc_id long, a long, b long, c long")

        want = set()
        for row in rows:
            d = row[0]
            for ci, c in enumerate(cols):
                if c not in spec:
                    continue
                x = row[1 + ci]
                if x is None:  # null passes numeric keywords
                    continue
                m, em, mx, emx = spec[c]
                if m is not None:
                    if em and not (x > m):
                        want.add((d, f"{c}.exclusiveMinimum"))
                    elif not em and x < m:
                        want.add((d, f"{c}.minimum"))
                if mx is not None:
                    if emx and not (x < mx):
                        want.add((d, f"{c}.exclusiveMaximum"))
                    elif not emx and x > mx:
                        want.add((d, f"{c}.maximum"))

        got = {(r.doc_id, r.rule_id)
               for r in violations_df(df, rs, definitions=defs).collect()}
        assert got == want, f"trial {trial}: {sorted(got ^ want)}"


# ------------------------------------------------- 2019-09 $recursiveRef


def test_import_recursive_ref_2019(spark):
    """2019-09 $recursiveRef/$recursiveAnchor map onto the dynamic-ref
    machinery (they are its restricted predecessor: boolean anchor, one
    implicit name, entry-chain binding). Library root declares
    $recursiveAnchor:true and a default cap; an entry override (declared
    in the entry's $defs — the importer's analogue of the entry resource
    root) re-routes the library's $recursiveRef to a stricter cap."""
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    lib = {
        "$id": "https://example.test/rec-lib",
        "$recursiveAnchor": True,
        "maximum": 20,
        "$defs": {"holder": {"$recursiveRef": "#"}},
    }
    reg = SchemaRegistry()
    reg.register(lib)
    df = spark.createDataFrame([(0, 15), (1, 25)], "doc_id long, field long")

    with_override = {
        "type": "object",
        "$defs": {"strictCap": {"$recursiveAnchor": True, "maximum": 10}},
        "properties": {
            "field": {"$ref": "https://example.test/rec-lib#/$defs/holder"}},
    }
    rs_o, defs_o = ruleset_from_json_schema(with_override, registry=reg)
    got = {(r.doc_id, r.rule_id)
           for r in violations_df(df, rs_o, definitions=defs_o).collect()}
    assert got == {(0, "field.$ref"), (1, "field.$ref")}  # strict cap 10

    without = {
        "type": "object",
        "properties": {
            "field": {"$ref": "https://example.test/rec-lib#/$defs/holder"}},
    }
    rs_p, defs_p = ruleset_from_json_schema(without, registry=reg)
    got = {(r.doc_id, r.rule_id)
           for r in violations_df(df, rs_p, definitions=defs_p).collect()}
    assert got == {(1, "field.$ref")}  # library default cap 20


def test_import_recursive_ref_without_root_anchor_is_plain_ref(spark):
    """Bookending precondition: a $recursiveRef in a document whose root
    does NOT declare $recursiveAnchor behaves as a plain $ref '#' to the
    document root (whose $defs, a pure reserved-location keyword, emits
    no rule)."""
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    lib = {
        "$id": "https://example.test/rec-plain",
        "maximum": 20,
        "$defs": {"holder": {"$recursiveRef": "#"}},
    }
    reg = SchemaRegistry()
    reg.register(lib)
    entry = {
        "type": "object",
        # an entry-side recursive anchor that must NOT capture the ref
        "$defs": {"decoy": {"$recursiveAnchor": True, "maximum": 1}},
        "properties": {
            "field": {"$ref": "https://example.test/rec-plain#/$defs/holder"}},
    }
    rs, defs = ruleset_from_json_schema(entry, registry=reg)
    df = spark.createDataFrame([(0, 15), (1, 25)], "doc_id long, field long")
    got = {(r.doc_id, r.rule_id)
           for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {(1, "field.$ref")}  # root cap 20, decoy ignored


def test_import_recursive_ref_error_shapes():
    with pytest.raises(ValueError, match="must be '#'"):
        ruleset_from_json_schema(
            {"type": "object",
             "properties": {"f": {"$recursiveRef": "#/$defs/x"}}}
        )
    with pytest.raises(ValueError, match="must be a boolean"):
        ruleset_from_json_schema(
            {"type": "object",
             "properties": {"f": {"$recursiveAnchor": "yes"}}}
        )


# ------------------------------------------------------ remote fetcher


@pytest.fixture()
def _local_http():
    """Loopback HTTP server serving canned schema bytes and counting
    hits per path — no external network involved. A ``str`` value in
    ``docs`` is served as a 302 redirect to that location."""
    import http.server
    import threading

    hits: dict[str, int] = {}
    docs: dict[str, bytes] = {}

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits[self.path] = hits.get(self.path, 0) + 1
            body = docs.get(self.path)
            if body is None:
                self.send_error(404)
                return
            if isinstance(body, str):
                self.send_response(302)
                self.send_header("Location", body)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", docs, hits
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_fetcher_authorized_fetches_and_caches_once(_local_http, spark):
    import json as _json

    from json_validator_spark.rules.schema_registry import (
        SchemaRegistry,
        http_fetcher,
    )

    base, docs, hits = _local_http
    lib_id = f"{base}/common.schema.json"
    docs["/common.schema.json"] = _json.dumps(
        {"$id": lib_id, "$defs": {"cap": {"maximum": 10}}}
    ).encode()
    prefixes = [base + "/"]
    reg = SchemaRegistry(
        fetcher=http_fetcher(prefixes), allowed_uri_prefixes=prefixes)
    entry = {
        "type": "object",
        "properties": {"n": {"$ref": f"{lib_id}#/$defs/cap"}},
    }
    rs, defs = ruleset_from_json_schema(entry, registry=reg)
    df = spark.createDataFrame([(0, 5), (1, 15)], "doc_id long, n long")
    got = {(r.doc_id, r.rule_id)
           for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {(1, "n.$ref")}
    # second import: resolve() serves the cached document, no new hit
    ruleset_from_json_schema(entry, registry=reg)
    assert hits["/common.schema.json"] == 1


def test_http_fetcher_unauthorized_prefix_raises(_local_http):
    from json_validator_spark.rules.schema_registry import (
        SchemaRegistry,
        http_fetcher,
    )

    base, docs, hits = _local_http
    prefixes = [base + "/allowed/"]
    reg = SchemaRegistry(
        fetcher=http_fetcher(prefixes), allowed_uri_prefixes=prefixes)
    with pytest.raises(PermissionError, match="not authorized"):
        ruleset_from_json_schema(
            {"type": "object",
             "properties": {"n": {"$ref": f"{base}/other/x.json#/$defs/cap"}}},
            registry=reg,
        )
    assert hits == {}  # authorize-THEN-fetch: denial precedes any request


def test_http_fetcher_reauthorizes_every_redirect_hop(_local_http):
    import json as _json

    from json_validator_spark.rules.schema_registry import http_fetcher

    base, docs, hits = _local_http
    schema = {"$defs": {"cap": {"maximum": 10}}}
    docs["/allowed/moved.json"] = f"{base}/allowed/x.json"
    docs["/allowed/x.json"] = _json.dumps(schema).encode()
    docs["/allowed/escape.json"] = f"{base}/other/x.json"
    docs["/other/x.json"] = _json.dumps(schema).encode()
    fetch = http_fetcher([base + "/allowed/"])
    # a hop inside the allowlist is followed
    assert fetch(f"{base}/allowed/moved.json") == schema
    # a hop outside it is refused before the target is requested
    with pytest.raises(PermissionError, match="redirect .* not authorized"):
        fetch(f"{base}/allowed/escape.json")
    assert "/other/x.json" not in hits
    assert hits["/allowed/escape.json"] == 1


def test_http_fetcher_rejects_non_json_and_preload_wins(_local_http):
    from json_validator_spark.rules.schema_registry import (
        SchemaRegistry,
        http_fetcher,
    )

    base, docs, hits = _local_http
    docs["/junk.json"] = b"not json {"
    prefixes = [base + "/"]
    reg = SchemaRegistry(
        fetcher=http_fetcher(prefixes), allowed_uri_prefixes=prefixes)
    with pytest.raises(ValueError, match="not valid JSON"):
        reg.resolve(f"{base}/junk.json")
    # preloaded documents win over the fetcher (local-first resolution)
    local_id = f"{base}/local.json"
    reg.register({"$id": local_id, "maximum": 3})
    assert reg.resolve(local_id)["maximum"] == 3
    assert "/local.json" not in hits


def test_http_fetcher_constructor_requires_explicit_allowlist():
    from json_validator_spark.rules.schema_registry import http_fetcher

    with pytest.raises(ValueError, match="non-empty allowed_uri_prefixes"):
        http_fetcher([])
    with pytest.raises(ValueError, match="http:// or https://"):
        http_fetcher(["ftp://example.test/"])


def test_cli_schema_fetch_prefix_end_to_end(tmp_path, _local_http, spark):
    """--schema-fetch-prefix authorizes remote $ref fetching for the
    given prefix only; the fetched library resolves through the same
    registry path as preloaded shared schemas."""
    import json as _json

    from json_validator_spark.cli import main

    base, docs, hits = _local_http
    lib_id = f"{base}/lib.json"
    docs["/lib.json"] = _json.dumps(
        {"$id": lib_id, "$defs": {"cap": {"maximum": 100}}}
    ).encode()
    (tmp_path / "docs.jsonl").write_text(
        '{"doc_id": 1, "n": 10}\n{"doc_id": 2, "n": 300}\n')
    (tmp_path / "schema.json").write_text(_json.dumps({
        "type": "object",
        "properties": {"n": {"$ref": f"{lib_id}#/$defs/cap"}},
    }))
    out = str(tmp_path / "out")
    rc = main([
        "validate", "--input", str(tmp_path / "docs.jsonl"), "--output", out,
        "--input-format", "jsonl", "--input-schema", "doc_id long, n long",
        "--schema", str(tmp_path / "schema.json"),
        "--schema-fetch-prefix", base + "/",
    ])
    assert rc == 0
    got = {(r["doc_id"], r["rule_id"])
           for r in spark.read.parquet(f"{out}/violations").collect()}
    assert got == {("2", "n.$ref")}
    assert hits["/lib.json"] == 1


# ------------------------------------------------- draft-4 `id` keyword


def test_import_draft4_id_keyword(spark):
    """Draft-4 spells the base-URI/anchor keyword `id` (renamed `$id`
    in draft-6; networknt V4 resolves both — JSONValidator.java:321-345
    dialect selection). Root `id` + subschema `id: "#addr"` anchor +
    `$ref: "#addr"` compile exactly like the draft-6+ spellings."""
    schema = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "id": "https://example.test/d4-root",
        "type": "object",
        "definitions": {"cap": {"id": "#cap", "maximum": 100}},
        "properties": {"n": {"$ref": "#cap"}},
    }
    rs, defs = ruleset_from_json_schema(schema, name="d4id")
    df = spark.createDataFrame(
        [(0, 10), (1, 300)], "doc_id long, n long"
    )
    got = {(r["doc_id"], r["rule_id"])
           for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {(1, "n.$ref")}


def test_import_draft4_id_property_name_not_rewritten(spark):
    """A property literally NAMED `id` (ubiquitous in real data), or
    named like the 2019-09 `$recursiveRef` keyword, is a KEY of the
    `properties` map, not a keyword — the dialect rewrite must leave it
    alone and its subschema must still compile."""
    dialects = {
        "id": "http://json-schema.org/draft-04/schema#",
        "$recursiveRef": "https://json-schema.org/draft/2019-09/schema",
    }
    for prop, dialect in dialects.items():
        schema = {
            "$schema": dialect,
            "type": "object",
            "properties": {prop: {"type": "string", "pattern": "^u-"}},
            "required": [prop],
        }
        rs, defs = ruleset_from_json_schema(schema, name="d4prop")
        assert {r.rule_id for r in rs.rules} == {
            f"{prop}.type", f"{prop}.pattern", f"{prop}.required"}
        df = spark.createDataFrame(
            [(0, "u-1"), (1, "x-1"), (2, None)], f"doc_id long, `{prop}` string"
        )
        got = {(r["doc_id"], r["rule_id"])
               for r in violations_df(df, rs, definitions=defs).collect()}
        assert got == {(1, f"{prop}.pattern"), (2, f"{prop}.required")}


def test_import_keyword_shaped_data_values_not_rewritten():
    """`enum`/`const`/`default` values are data: a `$recursiveRef` or
    `$recursiveAnchor` key inside one is neither validated nor rewritten
    by the 2019-09 → 2020-12 pass, so the values compile unchanged."""
    values = {
        "enum": [{"$recursiveAnchor": "x"}, {"$recursiveRef": "#"}],
        "const": {"$recursiveRef": "#"},
        "default": {"$recursiveRef": "other"},
    }
    for kw, value in values.items():
        schema = {
            "$schema": "https://json-schema.org/draft/2019-09/schema",
            "$recursiveAnchor": True,
            "type": "object",
            "properties": {"v": {kw: value, "maxLength": 3}},
        }
        rs, _ = ruleset_from_json_schema(schema)
        got = {r.kind: r.params for r in rs.rules}
        assert got.pop("maxLength") == {"value": 3}
        # `default` is an annotation: no rule; the others keep the value
        assert got == {
            "enum": {"enum": {"values": value}},
            "const": {"const": {"value": value}},
            "default": {},
        }[kw]


def test_import_draft4_id_requires_declared_dialect():
    """Without the draft-4 `$schema`, a bare `id` keyword stays unknown
    — the engine refuses rather than guessing the dialect."""
    with pytest.raises(ValueError, match="unsupported JSON-Schema keyword"):
        ruleset_from_json_schema(
            {"type": "object",
             "properties": {"n": {"id": "#x", "maximum": 5}}}
        )


def test_registry_accepts_draft4_id_document(spark):
    """A draft-4 library document registers by its `id` and is
    cross-referenced from a 2020-12 entry schema — the registry keys
    draft-4 docs by `id` (LocalSchemaCache keys by whatever identifier
    the document declares) and the dialect proxy rewrites it to `$id`
    at resolve time."""
    from json_validator_spark.rules.schema_registry import SchemaRegistry

    lib = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "id": "https://example.test/d4-lib",
        "definitions": {
            "bounded": {"minimum": 0, "exclusiveMinimum": False,
                        "maximum": 50, "exclusiveMaximum": True},
        },
    }
    reg = SchemaRegistry()
    key = reg.register(lib)
    assert key == "https://example.test/d4-lib#"
    entry = {
        "type": "object",
        "properties": {
            "n": {"$ref": "https://example.test/d4-lib#/definitions/bounded"},
        },
    }
    rs, defs = ruleset_from_json_schema(entry, name="d4x", registry=reg)
    df = spark.createDataFrame(
        [(0, 0), (1, 50), (2, -1)], "doc_id long, n long"
    )
    got = {(r["doc_id"], r["rule_id"])
           for r in violations_df(df, rs, definitions=defs).collect()}
    # 50 fails the strict max (draft-4 boolean modifier honored through
    # the registry path); 0 passes the inclusive min; -1 fails it.
    assert got == {(1, "n.$ref"), (2, "n.$ref")}


def test_registry_add_path_draft4_id(tmp_path):
    """Directory scan registers draft-4 files by `id` exactly like
    draft-6+ files by `$id` (LocalSchemaCache.java:99-132)."""
    import json as _json

    from json_validator_spark.rules.schema_registry import SchemaRegistry

    (tmp_path / "d4.json").write_text(_json.dumps({
        "$schema": "http://json-schema.org/draft-04/schema#",
        "id": "https://example.test/scanned-d4",
        "definitions": {"cap": {"maximum": 9}},
    }))
    (tmp_path / "modern.json").write_text(_json.dumps({
        "$id": "https://example.test/scanned-new",
        "$defs": {"cap": {"maximum": 9}},
    }))
    (tmp_path / "anon.json").write_text("{}")  # no id: skipped, no error
    reg = SchemaRegistry.from_paths([tmp_path])
    assert "https://example.test/scanned-d4" in reg
    assert "https://example.test/scanned-new" in reg


def test_content_schema_and_vocabulary_are_annotations(spark):
    """contentSchema is annotation-ONLY by spec (2019-09+ §8.8.3; the
    reference's networknt validator ignores it by default) and
    $vocabulary is meta-schema machinery — both must compile as no-ops
    next to keywords that DO assert, not raise as unknown."""
    schema = {
        "$vocabulary": {"https://json-schema.org/draft/2020-12/vocab/core": True},
        "type": "object",
        "properties": {
            "payload": {
                "type": "string",
                "contentEncoding": "base64",
                "contentMediaType": "application/json",
                "contentSchema": {"type": "object"},
            },
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="content")
    kinds = {r.kind for r in rs.rules}
    assert "contentEncoding" in kinds        # still asserted
    assert not any("contentSchema" in r.rule_id for r in rs.rules)
    # contentMediaType checks the DECODED content parses as JSON:
    # doc 0 = base64 of {"a":1} (clean), doc 1 = broken transport
    # encoding (both content checks fail), doc 2 = base64 of "hello"
    # (valid transport, content is not JSON).
    df = spark.createDataFrame(
        [(0, "eyJhIjoxfQ=="), (1, "not base64!!"), (2, "aGVsbG8=")],
        "doc_id long, payload string",
    )
    got = {(r["doc_id"], r["rule_id"])
           for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {
        (1, "payload.contentEncoding"),
        (1, "payload.contentMediaType"),
        (2, "payload.contentMediaType"),
    }


def test_import_draft6_dialect_end_to_end(spark):
    """Draft-6 (the one networknt dialect without its own fixture,
    ``JSONValidator.java:321-345`` V6 mode) is the 2020-12 surface
    minus if/then/else: ``$id`` (renamed from draft-4 ``id``), NUMERIC
    ``exclusiveMinimum``/``exclusiveMaximum`` (changed from draft-4's
    boolean modifier — must NOT trip the draft-4 rewrite), plus the
    keywords it introduced: ``const``, ``contains``,
    ``propertyNames``, and the still-merged ``dependencies``. One
    fixture exercising all of them must import untouched and validate
    with draft-6 semantics."""
    schema = {
        "$schema": "http://json-schema.org/draft-06/schema#",
        "$id": "https://example.org/draft6-fixture",
        "type": "object",
        "required": ["name"],
        "dependencies": {"source": ["lang"]},
        "properties": {
            "name": {"const": "alice"},
            "lang": {"enum": ["en", "es"]},
            "source": {"maxLength": 6},
            "n": {"exclusiveMinimum": 0, "exclusiveMaximum": 100},
            "tags": {"type": "array", "contains": {"pattern": "^t"}},
            "meta": {"type": "object",
                     "propertyNames": {"pattern": "^[a-z]+$"}},
        },
    }
    rs, defs = ruleset_from_json_schema(schema, name="d6")
    df = spark.createDataFrame(
        [
            # clean row
            (0, "alice", "en", "src", 50, ["t1"], {"k": "1"}),
            # const fail, dependencies (source without lang), bound == 0
            (1, "bob", None, "s", 0, ["t1"], {"k": "1"}),
            # exclusive upper == 100, contains empty, bad member name
            (2, "alice", "es", None, 100, ["a"], {"K": "1"}),
        ],
        "doc_id long, name string, lang string, source string, n long, "
        "tags array<string>, meta map<string,string>",
    )
    got = {(r["doc_id"], r["rule_id"])
           for r in violations_df(df, rs, definitions=defs).collect()}
    assert got == {
        (1, "name.const"),
        (1, "lang.dependentRequired"),
        (1, "n.exclusiveMinimum"),
        (2, "n.exclusiveMaximum"),
        (2, "tags.contains"),
        (2, "meta.propertyNames"),
    }
