"""Engine exceptions (analogue of keboola.component.exceptions.UserException
used throughout the reference)."""


class UserException(Exception):
    """An error attributable to user configuration or SQL — reported
    without a stack trace, mirroring the reference's UserException usage
    (e.g. reference src/query_orchestrator.py:404-420)."""
