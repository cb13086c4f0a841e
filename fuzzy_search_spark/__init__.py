"""fuzzy_search_spark: a from-scratch, PySpark-native fuzzy phrase extraction
engine with the query capabilities of the `fuzzy-search` reference library
(marijnkoolen/fuzzy-search, studied read-only at /root/reference).

Architecture (Spark-first, not a port):

- ``kernels/``   pure-Python/NumPy scoring + skipgram kernels (no Spark deps)
- ``model``      driver-side phrase-model compiler; the compiled model is tiny
                 and is broadcast to executors (the build side of a broadcast
                 hash join)
- ``matcher``    the per-document match pipeline (runs inside Arrow-batched
                 pandas UDFs on executors; sequential per document, parallel
                 across documents)
- ``extract``    deterministic HTML -> main-text extraction (boilerplate strip)
- ``spark/``     the distributed job: read table -> extract -> match via
                 mapInPandas -> explode -> write over groups of input files
                 (each file scanned once per job), with per-partition
                 lineage metrics and resumable manifests
- ``analysis/``  corpus-level DataFrame-native analytics (ngram freq, LLR,
                 skipgram similarity band-join)
- ``pipeline/``  web-scale training-data ops (dedup, langid, quality, ANN)
"""

from fuzzy_search_spark.config import DEFAULT_CONFIG, effective_config
from fuzzy_search_spark.model import CompiledModel, compile_model
from fuzzy_search_spark.matcher import find_matches

# reference top-level surface (fuzzy_search/__init__.py:1-29): lets
# `import fuzzy_search_spark as fuzzy_search` satisfy reference-style
# imports — all pure-Python, no Spark session required
from fuzzy_search_spark.compat import (  # noqa: E402
    FuzzyPhraseSearcher,
    FuzzyTokenSearcher,
    PhraseMatch,
    PhraseModel,
    default_config,
    make_searcher,
)

__version__ = "0.1.0"

__all__ = [
    "DEFAULT_CONFIG",
    "effective_config",
    "CompiledModel",
    "compile_model",
    "find_matches",
    "FuzzyPhraseSearcher",
    "FuzzyTokenSearcher",
    "PhraseMatch",
    "PhraseModel",
    "default_config",
    "make_searcher",
    "__version__",
]
