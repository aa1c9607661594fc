"""web_content_extractor_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the capabilities of
github:david3xu/web-content-extractor (reference snapshot at
/root/reference) as a distributed, declarative Spark pipeline:

    scan(docs: doc_id, spans[])  --   parquet / Iceberg
      -> mapInArrow(tokenize)    --   Arrow-batched HTML tokenizer; ranks
                                      each candidate (rank_context_py)
                                      and orders it into the output
                                      spans in the same kernel, shipping
                                      only the columns the caller asked for
      -> write spans + metrics

The when/rlike Column classifier chain (Catalyst) classifies and
orders candidates only for ``variant="regex"`` (operators/assemble.py).
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
