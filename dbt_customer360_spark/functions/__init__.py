from dbt_customer360_spark.functions.normalize import (  # noqa: F401
    NAME_TITLES,
    NAME_SUFFIXES,
    ORG_SUFFIXES,
    SECONDARY_UNITS,
    STREET_SUFFIX_MAP,
    empty_to_null,
    levenshtein_similarity,
    null_sentinel,
    safe_divide,
    surrogate_key,
)
