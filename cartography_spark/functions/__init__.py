from cartography_spark.functions.textextract import extract_text
from cartography_spark.functions.triples import extract_mentions, extract_triples_jvm
from cartography_spark.functions.textstats import (
    bpe_ish_token_count,
    doc_fingerprint,
    kmin_fingerprints,
    langid,
    quality_features,
    token_count,
)
from cartography_spark.functions.multimodal import (
    decode_media,
    frame_sample,
    synthesize_media,
)

__all__ = [
    "extract_text", "extract_triples_jvm", "extract_mentions",
    "token_count", "bpe_ish_token_count", "quality_features", "langid",
    "doc_fingerprint", "kmin_fingerprints",
    "decode_media", "frame_sample", "synthesize_media",
]
