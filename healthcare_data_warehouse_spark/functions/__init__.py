from .expressions import (  # noqa: F401
    age_bucket,
    age_years,
    anonymize,
    balance_bucket,
    davg,
    dec_sum,
    dsum,
    hash_uniform,
    laplace_noise_hash,
    valid_record,
    visit_cohort,
    with_privacy_noise_hash,
)
