"""``QUERIES`` and ``ORACLE_SQL``, re-exported from ``queries.registry``.

Kept because ``perfbench/workloads.py`` reads these two names from
here; everything else imports from the module that defines each name.
"""

from .queries.registry import ORACLE_SQL, QUERIES

__all__ = ["ORACLE_SQL", "QUERIES"]
