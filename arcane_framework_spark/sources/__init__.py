"""Sources (SURVEY.md §2.1): file change feeds, REST, blob listings, JDBC CDC.

The re-exports resolve lazily (PEP 562): importing one submodule, as
Spark's per-query Python source runner does when it unpickles
``ct_datasource``, does not pull in ``rest``/``cdm`` and their HTTP stack.
"""

import importlib

_EXPORTS = {
    "blob_listing": "blob",
    "blob_listing_stream": "blob",
    "CdmChangeFeedSource": "cdm",
    "RestApiSource": "rest",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value
