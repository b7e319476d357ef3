"""ts_pymfe_spark — a PySpark-native time-series rollup / downsample /
retention engine with the analytic capabilities of FelSiq/ts-pymfe.

NOT a port: the reference (``/root/reference``, read-only) is a
single-machine NumPy library that extracts 149 meta-features from one
1-D array.  This engine recasts those computations as continuous
aggregates over an Iceberg/parquet table of conversation transcripts
``(conv_id, turn_idx, role, text, tool, ts)``, maintained at cascading
retention tiers (raw -> 1m -> 1h -> 1d), executed Spark-first:
declarative DataFrame plans for everything Catalyst can optimize, and
vectorized Arrow (pandas) UDFs only for the per-series kernels that SQL
cannot express (FFT, embeddings, sequential recurrences).

Layout
------
- ``session``            SparkSession builder (AQE, Arrow, shuffle conf)
- ``synth``              deterministic synthetic transcript generator
- ``sources``            readers/writers (parquet now, Iceberg-gated)
- ``functions.moments``  mergeable moment-vector algebra (partial aggs)
- ``functions.summaries``the 32 ts-pymfe summary functions as Spark aggs
- ``operators.derive``   transcripts -> per-conversation derived series
- ``operators.rollup``   tier cascade via moment merge (no re-scan)
- ``operators.local_stats`` rolling/tiled window features (SQL family)
- ``operators.sequence`` lag/diff/run/crossing/session features (SQL family)
- ``operators.gapfill``  calendar grid + as-of carry-forward + lerp
- ``operators.arrow_kernels`` per-series numpy kernels (Arrow UDFs)
- ``operators.grouped``  partition-level grouped map (one mapInPandas)
- ``operators.compression`` Gorilla XOR + delta-of-delta codecs
- ``plans``              checkpoint manifest / resume / lineage metrics
- ``streaming``          Structured Streaming tier maintenance only (the
                         1m partial store, merged and composed on read)
"""

__version__ = "0.1.0"
