"""Public operator signatures take no tuning knob the library derives.

Broadcast budgets, pinning, miBF segment counts, Bloom merge segments,
sketch merge fanouts, broadcast hints and the summary plan switch are
all decided from the session and the data, and a checkpointed build
resumes whenever its fingerprint matches; none of them may come back as
a parameter or a ``BuildConfig`` field.  A switch no library code reads
(``ScoringConfig.reference_skip_mode``) must not come back either.
"""

from __future__ import annotations

import importlib
import inspect

#: parameter names the library derives instead of taking from the caller
DERIVED = {
    "max_broadcast_bytes", "pin_source", "pin", "explode_threshold",
    "merge_segments", "segment_bytes", "min_segments", "merge_fanout",
    "broadcast_refs", "resume",
    # read by no library code: exhaustive scoring is the only scorer
    "reference_skip_mode",
}

MODULES = [
    "biobloom_spark.operators",
    "biobloom_spark.operators.mibf",
    "biobloom_spark.operators.mibf_store",
    "biobloom_spark.operators.sketch_agg",
    "biobloom_spark.operators.exact",
]


def _public_callables():
    for mod_name in MODULES:
        mod = importlib.import_module(mod_name)
        for name in mod.__all__:
            obj = getattr(mod, name)
            if inspect.isclass(obj):
                for meth, fn in inspect.getmembers(obj, inspect.isfunction):
                    if not meth.startswith("_") or meth == "__init__":
                        yield f"{mod_name}.{name}.{meth}", fn
            elif callable(obj):
                yield f"{mod_name}.{name}", obj


def test_no_derived_parameter():
    from biobloom_spark.config import BuildConfig, ScoringConfig

    found = dict(_public_callables())
    # a dataclass's signature is its fields
    found["biobloom_spark.config.BuildConfig"] = BuildConfig
    found["biobloom_spark.config.ScoringConfig"] = ScoringConfig
    assert "biobloom_spark.operators.mibf_store.build_mibf_store" in found
    offenders = {
        q: sorted(set(inspect.signature(fn).parameters) & DERIVED)
        for q, fn in found.items()
    }
    assert {q: p for q, p in offenders.items() if p} == {}
