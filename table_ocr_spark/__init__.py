"""table_ocr_spark — a PySpark-native document/table extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``phenschke/table-ocr`` (see SURVEY.md): its per-document
LLM/Streamlit loop becomes deterministic, vectorized document parsing
(HTML boilerplate stripping, table-grid reconstruction) running inside
Arrow-batched UDFs over a Common-Crawl-style pages table
``(url, warc_ts, html, text, lang)``, with explicit partitioning/salting,
per-partition lineage and checkpointed restart.

Public API (mirrors the surface of ``table_ocr/__init__.py:9-17`` in the
reference — ``ocr_pdf``/``create_batch_ocr_job``/``get_job_state``/
``download_batch_results_file`` — re-expressed as Spark pipelines):

- :func:`extract_documents`      — pages DataFrame -> extracted DataFrame
- :func:`sample_majority_vote`   — multi-sample vote (parser.py:39-126)
- :func:`run_pipeline`           — checkpointed, lineage-tracked run
"""

from table_ocr_spark.api import (
    create_extraction_run,
    extract_pages,
    get_run_state,
    read_run_results,
)
from table_ocr_spark.operators.extract import extract_documents
from table_ocr_spark.operators.vote import sample_majority_vote
from table_ocr_spark.pipelines import build_training_corpus
from table_ocr_spark.plans.lineage import run_pipeline

__all__ = [
    "extract_documents",
    "sample_majority_vote",
    "run_pipeline",
    "build_training_corpus",
    # reference API parity (table_ocr/__init__.py:9-17)
    "extract_pages",
    "create_extraction_run",
    "get_run_state",
    "read_run_results",
]

__version__ = "0.1.0"
