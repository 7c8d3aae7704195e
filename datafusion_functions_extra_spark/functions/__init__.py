"""Column-builder functions (aggregates, text analysis, vector math)."""

from pyspark import cloudpickle

from . import audio_np, multimodal
from .aggregates import kurtosis, kurtosis_pop, max_by, min_by, skewness  # noqa: F401
from .distribution import (  # noqa: F401
    discrete_percentile_cutoffs,
    global_cumsum,
    global_rank,
)
from .registry import FUNCTIONS, all_extra_aggregate_functions, register_all  # noqa: F401

# The mapInPandas workers of these modules call module-level helpers
# (_roundtrip_iter, _sniff_py, _png_decode_py).  cloudpickle ships a module
# function by reference, which a Python worker that cannot import this
# package fails to load; by value, each worker carries its helpers with it.
for _worker_module in (audio_np, multimodal):
    cloudpickle.register_pickle_by_value(_worker_module)
