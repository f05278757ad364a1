"""PySpark-native time-series rollup + downsample + retention engine.

A from-scratch engine with the query/data-processing capabilities of the
reference (``ghayth82/Features-engineering-of-Motion-data`` — a pandas/numpy
sliding-window feature-engineering library for motion signals; see SURVEY.md
§0 for reference-availability provenance), re-targeted to multi-turn agent
transcripts treated as irregular per-conversation signals.

Core contract (SURVEY.md §2.4–§2.6, amended by DESIGN.md):

* Channel values are **exact integers** in a raw unit (chars for ``text_len``,
  microseconds for ``inter_turn_latency``, 0/1 for ``tool_cadence``).
* Sufficient statistics (n, s1, s2, min, max, first/last, zero-crossings) are
  integer/decimal sums — **associative and order-free**, so every tier of the
  rollup cascade is bit-identical no matter how Spark partitions the data.
  This is what makes the N-vs-4N-executor exactness requirement hold by
  algebra instead of by fragile float-summation-order control.
* Finalized feature points (mean, std, rms, min, max, energy) are float64,
  produced by a **pinned evaluation order** (see operators/features.py)
  identical in the Spark engine and the independent numpy oracle.
"""

__version__ = "0.1.0"
