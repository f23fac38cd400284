"""article_extraction_spark — a PySpark-native main-content extraction engine.

A brand-new, Spark-first engine with the query/data-processing capabilities of
the reference ``opalien/article_extraction`` (a single-threaded SQLAlchemy +
pandas pipeline): HTML/PDF/txt/json → main-text conversion, structured
enrichment (casts, normalizers, fuzzy joins), deterministic splits, metrics —
plus the large-scale training-data operators a 100 TB corpus needs
(deduplication, similarity search, text analysis, multimodal plumbing).

Design principles (see SURVEY.md):
  * DataFrame/SQL declarative plans — Catalyst does pruning/pushdown/reorder.
  * Vectorized pandas/Arrow UDFs only for genuinely scalar-custom logic
    (HTML state machine, PDF parse, Jaro-Winkler); never per-row Python.
  * Explicit partitioning for scale: salted hash on conv_id, byte-volume
    repartition, AQE skew handling.
  * Idempotent resume via per-partition lineage + anti-join (the reference's
    ``_existing_ids`` semantics, tables/paper_text_table.py:108-110).
"""

__version__ = "0.1.0"

from . import _zipimport

# every Python worker that unpickles an engine function imports this
# package first, so its later tasks skip the per-task zip directory re-reads
_zipimport.install()
