"""Operator plan builders."""
from .asof import asof_join
from .bloom import bloom_build, bloom_filter_maybe, bloom_probe_col
from .sketch import (cms_build, cms_estimate, cms_merge, cms_topk,
                     hll_merge_estimate, hll_state, kll_merge_quantiles,
                     kll_state, theta_overlap, theta_state)
from .incremental import (finalize_state, merge_states,
                          partial_aggregate)
from .rank import ranged_cumsum, ranged_row_number
from .quality import Check, constraint_report
from .timeseries import resample, rolling_zscore, scd2_history
from .events import cohort_retention, event_transitions, trailing_features
from .rangejoin import range_join
from .skew import salted_agg, salted_join, skew_report
from .stats import KolmogorovSmirnovTest, ks_test, tTest, ttest
from .upsert import latest_by_key, upsert

__all__ = ["asof_join", "trailing_features", "event_transitions", "cohort_retention", "range_join", "salted_agg", "salted_join", "ttest", "tTest",
           "ks_test", "KolmogorovSmirnovTest", "latest_by_key", "upsert",
           "skew_report",
           "partial_aggregate", "merge_states", "finalize_state",
           "resample", "rolling_zscore", "scd2_history", "Check", "constraint_report",
           "bloom_build", "bloom_probe_col", "bloom_filter_maybe",
           "cms_build", "cms_estimate", "cms_merge", "cms_topk",
           "hll_state", "hll_merge_estimate", "kll_state",
           "kll_merge_quantiles", "theta_state", "theta_overlap",
           "ranged_cumsum", "ranged_row_number"]
