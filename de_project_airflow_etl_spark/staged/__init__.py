"""Staged queries: implemented and locally verified, but NOT yet
registered in the driver-facing registry.

The driver verifies exactly ~50 registry queries per round; when a
round's window is already full, registering more queries would push
some past the window and cost them their only hard verification
signal (CLAUDE.md, "Registry growth is window-bounded"). Overflow
queries therefore live in a parallel ``STAGED`` dict with the exact
same ``Query`` shape — a ``staged_query`` decorator mirroring
``registry.query`` — and are promoted (decorator swapped, module
moved under ``queries/``) the round after their window opens.

Promotion history: round 5 promoted the 30 round-4 staged queries
(``round5.py`` -> ``queries/analytics.py``); round 6 promoted the 39
round-5 staged queries (``round6.py`` -> ``queries/mining.py``,
``round6b.py`` -> ``queries/features.py``) after the recorded sf0.01
AND sf0.1 staged sweeps ran 39/39 green; round 7 promoted the 36
round-6 staged queries (``round7.py`` -> ``queries/surfaces_r7.py``,
``round7b.py`` -> ``queries/evaluation.py``) after the full staged
pen swept 97/97 green at sf0.01 and sf0.1; round 8 promoted the 46
round-8/9 bank queries (``round8.py`` -> ``queries/diagnostics.py``,
``round8b.py`` -> ``queries/indicators.py``, ``round8c.py`` ->
``queries/surfaces_r8.py``, ``round9.py`` -> ``queries/
surfaces_r9.py``) after the full 87-query pen swept green at sf0.01
AND sf0.1 (VERDICT r7 #1: the whole window was free, so round9
folded in alongside the round-8 banks); round 9 promoted the 47
round-9b..11b bank queries (``round9b.py`` -> ``queries/
nonparam.py``, ``round9c.py`` -> ``queries/assoc.py``,
``round10.py`` -> ``queries/surfaces_r10.py``, ``round10b.py`` ->
``queries/surfaces_r10b.py``, ``round10c.py`` ->
``queries/robuststats.py``, ``round11.py`` ->
``queries/changepoint.py``, ``round11b.py`` ->
``queries/dispersion.py``) after the full 94-query pen swept green
at sf0.01 AND sf0.1 on 2026-08-16 (VERDICT r8 #2); round 10 promoted
the 47 round-11c..20 bank queries (``round11c.py`` ->
``queries/streaming_ext.py``, ``round12.py`` ->
``queries/experimentation.py``, ``round12b.py`` ->
``queries/abdesign.py``, ``round12c.py`` -> ``queries/reranking.py``,
``round13.py`` -> ``queries/governance.py``, ``round13b.py`` ->
``queries/schema_ops.py``, ``round14.py`` ->
``queries/operating_points.py``, ``round15.py`` ->
``queries/attribution.py``, ``round16.py`` ->
``queries/estimators.py``, ``round17.py`` ->
``queries/clustering.py``, ``round18.py`` ->
``queries/population.py``, ``round19.py`` ->
``queries/sql_surfaces.py``, ``round20.py`` ->
``queries/seqalign.py``) after the full 61-query pen swept green at
sf0.01 (61/61) AND sf0.1 (61/61) on 2026-08-16 (VERDICT r9 #1).

The remaining pen: ``round21.py`` (5, staged in round 9: the
Wald-Wolfowitz runs test of daily-revenue randomness, Mood's
squared-rank scale test, the two-sample energy distance from exact
sorted-prefix pairwise |difference| sums, Hoeffding's D dependence
statistic in 2x-integer bivariate ranks, and Page's L ordered-trend
test across complete epoch-weeks); ``round22.py`` (4, staged in
round 9: sample-entropy template-match counts on the daily series
with an exact MAD tolerance, exact distance correlation between day
index and daily revenue, the deterministic md5-stratified
train/val/test split manifest, and the chi-square divergence between
per-source unigram distributions on the capped top-500 vocabulary);
``round23.py`` (2, staged in round 9: TextRank keyphrase extraction
— weighted PageRank over the within-document term-adjacency graph in
the repo's exact fixed-point integer iteration — and LZ78 phrase
complexity of per-user event sequences, an in-array dictionary fold
on Spark vs a recursive-CTE position stepper on DuckDB);
``round24.py`` (3, staged in round 9: the Brunner-Munzel
generalized Wilcoxon — valid under unequal variances, pooled and
within-group 2x midranks from one cell cumulation — Cochran's Q
for k related weekly purchase flags, and the Bartels rank von
Neumann serial-randomness ratio); ``round25.py`` (3, staged in
round 10 — the training-data-pipeline completions VERDICT r9
suggested: tokenizer-aware near-dup pairs over token-ID 4-gram
shingles with in-array pair emission from df-capped shingle groups,
the URL/domain-grain dedup profile over a synthesized host column
splitting within-host from cross-host duplication, and the
RAG-chunk retrieval eval — sibling-chunk recovery via shared
5-grams on the doc_chunk_windows grid with the map_retrieval_eval
anchor-panel idiom); ``round26.py`` (2, staged in round 10:
IPS/SNIPS off-policy value of a deterministic target policy
replayed over the md5-randomized logged arms — the counterfactual
readout closing the experimentation family — and Krippendorff's
alpha for the three quality raters, the pooled-pairs N-1 chance
model beside the registered Fleiss/Cohen kappas, exact rational);
``round27.py`` (4, staged in round 10: the Fligner-Policello robust
rank-order test from 2x placement counts, Dunn's post-hoc pairwise
z tests with the tie-corrected pooled variance, Stuart-Maxwell
marginal homogeneity on first-vs-last event bands in the Fleiss k=3
closed form, and linear/quadratic weighted Cohen's kappa over
ordinal document bands); ``round28.py`` (5, staged in round 10:
Breusch-Pagan heteroskedasticity of the daily trend, the Chow
mid-sample structural-break F, OLS leverage/Cook's-distance
influence top-5, the KPSS level-stationarity partial-sum ratio, and
the Lo-MacKinlay weekly variance ratio — all on exact integer
sufficient statistics with sorted-fold residual sums);
``round29.py`` (4, staged in round 10, over the shared LSH-verified
dup-pairs relation: Newman source-partition modularity, degree
assortativity, 3-round synchronized majority-vote label propagation
with deterministic tie-breaks, and global transitivity 3T/W);
``round30.py`` (2, staged in round 10: rank-biased overlap (p=1/2,
dyadic bit-shift weights) between the cosine/L2 top-50 rankings,
and rank-biased precision at p=1/2 and 3/4 as exact fixed-point
integer sums over the fixed anchor panel); ``round31.py`` (3,
staged in round 10: the Diebold-Mariano forecast-comparison test on
exact cents^2 loss differentials, restricted mean survival time at
30 days integrating the registered KM step curve, and Schuster
periodogram power at period 7 via HARDCODED cos/sin literals — no
cross-engine trig); ``round32.py`` (2, staged in round 10: the
cross-fitted doubly-robust off-policy value with an opposite-md5-
fold outcome model beside the direct method, and a deterministic
epsilon-greedy bandit replay with md5 exploration and
cross-multiplied exact running averages, recursive-CTE oracle);
``round33.py`` (4, staged in round 10: the Gehan-Breslow-Wilcoxon
n_j-weighted log-rank on the A/B conversion arms — exact integer U,
bracketing proportional hazards beside the registered log-rank —
ICC(1,1) for the three quality raters as an exact integer rational,
Fisher's Poisson dispersion test of daily counts, and Mahalanobis
outlier days over the joint (revenue, count) pair via the
string-routed 2x2 closed-form inverse); ``round34.py`` (2, staged
in round 10: PACF of daily revenue at lags 1..3 via the
Durbin-Levinson recursion over exact integer autocovariances, and
the ANOVA effect-size panel eta^2/omega^2/epsilon^2 on the
registered ANOVA's exact sufficient statistics).
Pen sweeps this round: 45/45 green at sf0.01 (104.1 s) AND sf0.1
(144.0 s) on 2026-08-17 — the recorded promotion precondition for
the round-11 window. Final-plan parquet-scan budgets for all eight
new banks are rows of PLAN_RULES in tests/test_plan_rules.py.

The round labels are the DEFAULT schedule, not a constraint: the
window takes ~50 rows, so a promoting session folds banks together
when the retry count leaves room (round-8 precedent). Every bank is
already sweep-verified at sf0.001/0.01/0.1 (the recorded promotion
precondition).
"""

from __future__ import annotations

from collections.abc import Callable

from de_project_airflow_etl_spark.registry import Query, QueryFn

STAGED: dict[str, Query] = {}


def staged_query(name: str, oracle: str | None, doc: str = "",
                 tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Mirror of ``registry.query`` that registers into ``STAGED``."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in STAGED:
            raise ValueError(f"duplicate staged query {name!r}")
        STAGED[name] = Query(name=name, fn=fn, oracle=oracle,
                             doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return wrap


# registration imports at the bottom: the modules need staged_query above
from de_project_airflow_etl_spark.staged import round21  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round22  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round23  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round24  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round25  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round26  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round27  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round28  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round29  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round30  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round31  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round32  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round33  # noqa: E402,F401
from de_project_airflow_etl_spark.staged import round34  # noqa: E402,F401
