"""matrixprofile_spark — a PySpark-native time-series rollup + downsample +
retention engine with matrix-profile motif/discord discovery.

Brand-new engine with the query/data-processing capabilities of
matrix-profile-foundation/matrixprofile (reference, read-only at
/root/reference), re-expressed Spark-first:

- input: a table of multi-turn conversation transcripts
  ``(conv_id string, turn_idx int, role string, text string, tool string,
  ts timestamp)``;
- per-conversation metric series (latency / token_count / turn_rate) are
  projected with pure DataFrame ops;
- continuous-aggregate rollup tiers raw→1m→1h→1d carry algebraic sketches
  (cnt/sum/min/max/sum_sq/first/last) so every tier re-aggregates exactly;
- matrixprofile's kernels (MPX, STOMP, MASS2, SCRIMP++, SKIMP, motifs,
  discords, FLUSS/regimes, MPDist, snippets, AV transforms) are re-derived
  as vectorized NumPy kernels (``matrixprofile_spark.kernels``) and run per
  ``(conv_id, metric, w)`` group through Arrow ``applyInPandas`` bridges
  (``matrixprofile_spark.operators.profile``);
- Gorilla XOR + delta-of-delta compressed segment structs, watermark
  manifests for resumable incremental rollup, and skew salting for hot
  conversations round out the 100 TB-scale design.

No code is copied from the reference; file:line citations in docstrings
point at the behavior being matched.
"""

from pyspark import TaskContext

from matrixprofile_spark.session import get_spark  # noqa: F401
from matrixprofile_spark.plans.compute import analyze, compute  # noqa: F401

__version__ = "0.1.0"

# inside a Python worker (every engine UDF's closure imports the engine):
# stop each later task on this worker from re-reading every zip archive
# on its path (see _zipstamp)
if TaskContext.get() is not None:
    from matrixprofile_spark import _zipstamp

    _zipstamp.install()
