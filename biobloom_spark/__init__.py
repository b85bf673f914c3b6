"""biobloom_spark — a PySpark-native distributed sketch / approximate-
membership engine with the query and data-processing capabilities of
bcgsc/biobloom (BioBloomMaker + BioBloomCategorizer), re-targeted at
Common-Crawl-style web pages.

Built from scratch on the public PySpark DataFrame / Arrow UDF API — NOT a
port of the reference C++ engine. Reference behavior citations (file:line)
point into the read-only checkout at /root/reference for parity checking.

Layers
------
- ``biobloom_spark.sketch``     pure-numpy mergeable sketches (Bloom, HLL,
                                CountMin, t-digest, KLL) with the
                                (init, update_batch, merge, serialize)
                                contract so merge-associativity is
                                property-testable.
- ``biobloom_spark.functions``  vectorized text + math kernels (tokenize,
                                shingle hashing, binomial tail bounds).
- ``biobloom_spark.operators``  the maker (filter construction) and
                                categorizer (multi-filter classification)
                                jobs, scoring kernels, dedup / similarity /
                                text-analysis pipeline operators.
- ``biobloom_spark.sources``    table layer (parquet now, Iceberg when a
                                catalog is configured), filter registry,
                                lineage/checkpoint tables, FASTA/FASTQ
                                ingestion for reference-format parity.
"""

__version__ = "0.1.0"

from biobloom_spark import _zipcache

# in a Spark Python worker: make PySpark's per-task import-cache reset skip
# unchanged zip archives (no-op on the driver and on lazy interpreters)
_zipcache.install()
