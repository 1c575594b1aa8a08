from .checks import CheckResult, DQReport, run_checks
from .expectations import ExpectationSuite, load_expectations_yaml, parse_expectations

__all__ = [
    "CheckResult",
    "DQReport",
    "ExpectationSuite",
    "load_expectations_yaml",
    "parse_expectations",
    "run_checks",
]
