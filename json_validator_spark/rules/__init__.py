from json_validator_spark.rules.model import Rule, RuleSet  # noqa: F401
from json_validator_spark.rules.compiler import compile_rule  # noqa: F401
