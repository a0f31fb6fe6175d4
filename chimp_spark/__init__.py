"""chimp_spark — PySpark-native per-column lightweight-compression engine.

A from-scratch re-expression of the reference float XOR codecs
(bootreer/chimp: Chimp, Chimp128, Gorilla, byte-aligned Patas)
generalized into a full lightweight codec suite (dictionary, RLE, FSST,
bit-packing, frame-of-reference, delta + Chimp for timestamps) with
per-chunk codec auto-selection, running as Arrow-vectorized kernels
over Spark DataFrames.
"""

from . import _alloc  # noqa: F401  (allocator tuning side effect)
from . import _zipcache  # noqa: F401  (per-task zip re-read fix, side effect)

__version__ = "0.1.0"
