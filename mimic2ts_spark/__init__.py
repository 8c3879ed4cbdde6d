"""mimic2ts_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of isears/mimic2ts (reference at
/root/reference, studied for behavior only; no code copied).

Design stance (SURVEY.md §7): long-form DataFrame pipeline, zero row-wise
UDFs, pivot and grid fill only at the sink, broadcast dims, one
map-side-combined aggregate shuffle for all sources of a CLI run.

The exports load on first access (PEP 562), so importing one submodule
does not import the rest: a Python worker that unpickles the CSV writer
loads `mimic2ts_spark.sinks`, not the pipeline and every operator.
"""

import importlib

__version__ = "0.3.0"

_EXPORTS = {
    "get_spark": "mimic2ts_spark.session",
    "ChartEventAggregator": "mimic2ts_spark.pipeline",
    "InputEventAggregator": "mimic2ts_spark.pipeline",
    "OutputEventAggregator": "mimic2ts_spark.pipeline",
    "ProcedureEventAggregator": "mimic2ts_spark.pipeline",
    "EventsAggregator": "mimic2ts_spark.pipeline",
}

__all__ = [*_EXPORTS, "__version__"]


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value

