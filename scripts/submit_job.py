#!/usr/bin/env python
"""spark-submit launcher for the extraction job (north-rule shape).

spark-submit runs a *script*, not a module, so this is the file you
hand it; the engine itself ships as ``--py-files engine.zip``:

    zip -r engine.zip web_content_extractor_spark
    spark-submit --master <cluster> --py-files engine.zip \\
        scripts/submit_job.py extract --input <docs> --output <spans> [...]

Everything after the script name goes to
``web_content_extractor_spark.jobs.main`` unchanged, so the CLI is
identical to ``python -m web_content_extractor_spark.jobs``: a
subcommand (``extract``, ``curate``, ``corpus``, ``dedup``, ``ann``,
``plan`` or ``compact``) followed by that mode's own flags.
Exercised end-to-end (real spark-submit subprocess, zip-only import
path) by tests/test_spark_submit.py.
"""

import sys

from web_content_extractor_spark.jobs import main

if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
