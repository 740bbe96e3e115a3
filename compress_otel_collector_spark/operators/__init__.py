from .dedup import (  # noqa: F401
    contamination_check,
    dedup_keep_first,
    embedding_dup_pairs,
    exact_dedup,
    lsh_hot_buckets,
    repetition_ratio,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_hamming_pairs,
    subdoc_dedup,
    word_shingles,
)
from .similarity import (  # noqa: F401
    DEFAULT_MAX_VEC_BUCKET,
    cosine_pairs,
    cosine_topk,
    embedding_dup_pairs_lsh,
    embedding_hot_buckets,
    ivf_assign,
    ivf_topk,
    ivf_train_centroids,
    lsh_cosine_topk,
    lsh_signatures,
)
from .textstats import (  # noqa: F401
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
)
from .multimodal import (  # noqa: F401
    extract_features,
    synthesize_media,
)
from .dictionary import (  # noqa: F401
    apply_dictionary,
    global_dictionary,
)
from .asof import asof_join  # noqa: F401
from .cluster import (  # noqa: F401
    cluster_summary,
    connected_components,
    drop_near_duplicates,
)
from .rangejoin import range_join  # noqa: F401
from .curation import (  # noqa: F401
    canonical_url,
    canonical_url_sql,
    pack_sequences,
    pii_count_expr,
    pii_count_sql,
    pii_scrub,
    pii_scrub_sql,
)
