from nebula_importer_spark.operators.connected_components import connected_components
from nebula_importer_spark.operators.linking import link_mentions, minhash_lsh_join

__all__ = [
    "connected_components",
    "link_mentions",
    "minhash_lsh_join",
]
