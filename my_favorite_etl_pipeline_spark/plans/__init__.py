"""Query plans — importing this package registers every query.

Every module here is mandatory: a silent registration failure would hide a
whole operator family from the driver's CORRECTNESS harness, which is far
worse than a loud crash. Modules whose *optional* third-party deps (numpy /
pandas for the Arrow paths) are genuinely absent degrade via
``_import_or_warn`` — an unmissable warning, never a bare ``pass`` — and
anything else (a SyntaxError, a bug in the module) re-raises.
"""

import warnings

from . import (  # noqa: F401
    events_analytics,
    pipeline,
    relational,
    relational_ext,
    relational_ext2,
)

# Deps that are legitimately absent in some minimal driver envs. Missing
# anything else is a packaging bug and must crash, not shrink the registry.
_KNOWN_OPTIONAL_DEPS = ("numpy", "pandas", "pyarrow")


def _import_or_warn(mod_name: str) -> None:
    import importlib

    try:
        importlib.import_module(f".{mod_name}", package=__name__)
    except ImportError as exc:
        missing = getattr(exc, "name", "") or ""
        if missing.split(".")[0] in _KNOWN_OPTIONAL_DEPS:
            warnings.warn(
                f"plans.{mod_name} NOT registered: optional dependency "
                f"{missing!r} is missing — an entire query family is absent "
                f"from the registry ({exc})",
                RuntimeWarning,
                stacklevel=2,
            )
        else:
            raise


for _family in (
    "dedup",
    "retrieval",
    "graph",
    "tokenizers",
    "curation",
    "assembly",
    "multimodal",
    "streaming_queries",
    "docstore_queries",
):
    _import_or_warn(_family)
