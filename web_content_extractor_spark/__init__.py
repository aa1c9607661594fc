"""web_content_extractor_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the capabilities of
github:david3xu/web-content-extractor (reference snapshot at
/root/reference) as a distributed, declarative Spark pipeline:

    scan(docs: doc_id, spans[])  --   parquet / Iceberg
      -> mapInPandas(tokenize)   --   Arrow-batched HTML tokenizer; also
                                      ranks each candidate
                                      (rank_context_py) for the default
                                      variant
      -> native assemble         --   sort_array + transform (no shuffle)
      -> write spans + metrics

The when/rlike Column classifier chain (Catalyst) ranks candidates
only for ``--variant regex`` and callers without tokenizer ranks.
Everything downstream of the tokenizer is pure Column algebra so the
whole per-document pipeline is shuffle-free and embarrassingly
parallel: throughput scales linearly with executors.
"""

__version__ = "0.1.0"

import sys

from web_content_extractor_spark.session import get_spark  # noqa: F401

# Inside a Spark Python worker (a task is running while the first engine
# UDF unpickles), skip the per-task re-parse of every zip on sys.path.
# CPython 3.13 already made zipimporter invalidation lazy.
if sys.version_info < (3, 13):
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        from web_content_extractor_spark import pyworker

        pyworker.install()
