"""Command-line entry, the counterpart of the reference's ``launcher.py``
without its engine-version venv routing (one PySpark runtime here).

``python -m component_duckdb_transformation_spark`` runs the action the
data dir's ``config.json`` names (``KBC_DATADIR``, default ``/data``):
``run`` by default, or a sync action, whose ``ValidationResult`` is
printed as JSON on stdout. Exit code 0 on success, 1 on a
``UserException`` (a problem with the configuration or the SQL), 2 on
any other error.
"""

from __future__ import annotations

import json
import logging
import sys

from .component import Component
from .exceptions import UserException

LOG = logging.getLogger(__name__)


def main() -> int:
    logging.basicConfig(level=logging.INFO)
    try:
        result = Component().execute_action()
    except UserException as exc:
        LOG.error("%s", exc)
        return 1
    except Exception:  # noqa: BLE001 — any other failure is an engine error
        LOG.exception("Component failed")
        return 2
    if result is not None:
        print(json.dumps(
            {"status": "success", "message": result.message, "type": result.type.value}
        ))
    return 0


if __name__ == "__main__":
    sys.exit(main())
