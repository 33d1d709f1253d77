from .asof import asof_join, asof_join_broadcast, asof_join_bucketed
from .rangejoin import range_join
from .classifier import featurize_hashed, score_logreg, train_logreg
from .curate import curate_corpus
from .encode import decayed_past_mean, past_target_encode
from .scrub import canonicalize_url, extract_html_text, pii_counts, scrub_pii
from .windows import (
    FeatureSpec,
    LeakageError,
    bfill,
    build_features,
    entity_window,
    ffill,
    lag_feature,
    lead_col,
    rolling,
    session_gap,
    sessionize,
    time_rolling,
)

__all__ = [
    "asof_join",
    "asof_join_broadcast",
    "asof_join_bucketed",
    "range_join",
    "canonicalize_url",
    "curate_corpus",
    "extract_html_text",
    "featurize_hashed",
    "decayed_past_mean",
    "past_target_encode",
    "pii_counts",
    "score_logreg",
    "scrub_pii",
    "train_logreg",
    "FeatureSpec",
    "LeakageError",
    "bfill",
    "build_features",
    "entity_window",
    "ffill",
    "lag_feature",
    "lead_col",
    "rolling",
    "session_gap",
    "sessionize",
    "time_rolling",
]
