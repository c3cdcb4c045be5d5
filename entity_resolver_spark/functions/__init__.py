from entity_resolver_spark.functions.normalize import (  # noqa: F401
    normalize_expr,
    normalize_nfkd,
    tokens_expr,
)
from entity_resolver_spark.functions.similarity import (  # noqa: F401
    cosine_expr,
    jaro_winkler_pudf,
    levenshtein_sim_expr,
)
from entity_resolver_spark.functions.years import (  # noqa: F401
    birth_year_expr,
    death_year_expr,
)
