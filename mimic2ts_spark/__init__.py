"""mimic2ts_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of isears/mimic2ts (reference at
/root/reference, studied for behavior only; no code copied).

Design stance (SURVEY.md §7): long-form DataFrame pipeline, zero row-wise
UDFs, pivot and grid fill only at the sink, broadcast dims, one
map-side-combined aggregate shuffle for all sources of a CLI run.
"""

from mimic2ts_spark.session import get_spark
from mimic2ts_spark.pipeline import (
    ChartEventAggregator,
    InputEventAggregator,
    OutputEventAggregator,
    ProcedureEventAggregator,
    EventsAggregator,
)

__version__ = "0.3.0"

__all__ = [
    "get_spark",
    "ChartEventAggregator",
    "InputEventAggregator",
    "OutputEventAggregator",
    "ProcedureEventAggregator",
    "EventsAggregator",
    "__version__",
]
