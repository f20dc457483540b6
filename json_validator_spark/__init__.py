"""json_validator_spark — a from-scratch PySpark-native validation engine.

Reproduces the validation semantics and report contract of the reference
(ISAITB/json-validator — a per-document JSON-Schema interpreter, see
``jsonvalidator-common/.../JSONValidator.java``) as distributed, set-based
dataflow over Spark DataFrames:

- rules compile to Catalyst ``Column`` predicates (span rules fuse into one
  higher-order ``transform`` per spans column, which Spark runs interpreted);
- one narrow pass over the corpus emits structured violation rows
  ``(doc_id, span_path, rule_id, severity, message)`` — the analogue of the
  reference's TAR report items (``JSONValidator.java:461-465``);
- schema-set combination semantics ALL / ANY / ONE_OF
  (``JSONValidator.java:252-296``) are boolean algebra over per-ruleset flags;
- set-based checks (column stats, uniqueness, referential integrity,
  distribution drift) generalize the reference's report counters.

Nothing here is a port: the reference is a Java interpreter around the
networknt keyword evaluator; this package is a Spark-first re-expression of
the same semantics.
"""

__version__ = "0.2.0"

from json_validator_spark.plans.pipeline import validate_run  # noqa: F401
from json_validator_spark.rules.model import (  # noqa: F401
    Combination,
    Rule,
    RuleSet,
    RuleSetGroup,
)
