"""Adjudicated BNLJ/Cartesian allowlist — the scale-safety tripwire.

Every BroadcastNestedLoopJoin / CartesianProduct node in the registry's
physical plans must cross a **1-ROW aggregate** (global min/max/count/
total, quantile-boundary row, kth-smallest hash, model normalizer) or a
**marginal table** (class priors, digit table, chain states) into a
scan — i.e. the broadcast side is O(1) at ANY scale factor, so the
"nested loop" is really a scalar/constant broadcast the planner cannot
express as an equi-join.

A BNLJ in any query NOT listed here is a data-sized nested loop — a
100 TB regression someone must rewrite as an equi-join. One automated
guard enforces that:

- equality, enforced on the live AQE-final plan in
  ``tests/test_queries_oracle.py::test_query_matches_oracle``: a query
  has a BNLJ/Cartesian node exactly when it is listed here, so a query
  whose nested loop is gone must leave the list too.

Adjudication notes (what each query's 1-row/marginal crossing is):
q51/q70/q79/q82/q85/q88/q93/q94/q96-q98/q100/q105/q106/q114/q117/q129/
q138/q139/q143/q152/q155/q168/q169/q173-q177/q180/q181 — round-1..3
vintage scalar-total / marginal-table broadcasts (global counts, digit
tables, class priors, horizon rows), adjudicated in rounds 2-3.
q187 — the same 1-row total broadcast as q88 (the exact-recount tail
the streaming MG candidates feed into).
q196/q199 — the KMV estimate table crosses three 1-ROW scalars (each
sketch's kth-smallest hash via TakeOrderedAndProject(k) → 1-row agg,
plus the exact-audit counts); q199 inherits q196's emission.
q197 — the 1-row distinct-bigram total broadcast into the vocab-sized
model build (the q98/q117 shape).
q204 — the 1-ROW global-prior aggregate crossJoin-broadcast into the
orders scan. q207 — the 1-ROW pooled-count aggregate crossed into the
ranked corpus. q219 — the 1-ROW occupancy total crossed into the
cells-sized (≤ N_CENTROIDS rows) audit table.
q223 (round 6) — the 1-ROW n_orders aggregate crossJoin-broadcast into
the frequent-triple table (the q106 support-denominator shape).
q221 (round 7) — the src_a < src_b pair-domain crossing of the
|sources|-row total aggregate with ITSELF (both BNLJ sides are the
same O(|sources|) aggregate, never a data-sized scan) so fully
disjoint source pairs still emit jsd = ln 2.
q226 (round 7) — two 1-ROW max-score aggregates (max authority, max
hub) crossJoin-broadcast into the top-20 tables for the final
normalizing division (the q88 shape).
q252 (round 9) — the 1-ROW merged (n_docs, avgdl) statistics aggregate
crossJoin-broadcast into the maintained df table (exactly q93's shape —
the incremental twin inherits the adjudication).
q267 (round 9) — the 1-ROW avg-class-mass aggregate crossJoin-broadcast
into the (source, token) summary (the q93/q204 scalar shape).
q269 (round 9) — the 1-ROW distinct-next-state count (the Laplace V)
crossJoin-broadcast into the test transition pairs.
q270 (round 9) — the 1-ROW (n_all, Σcontrib) totals aggregate
crossJoin-broadcast into the 5-row per-segment table (both BNLJ sides
summary-sized).
q227 (round 7) — the 1-ROW min/max balance span crossJoin-broadcast
into the customer scan for integer micro-probability scaling (the
q94/q129 span shape).
q234 (round 7) — the 1-ROW vector-count aggregate crossJoin-broadcast
into the 2,080-row covariance-pair table (the q94/q129 scalar shape;
the data itself never joins — it reduced to task-bounded partial sums
upstream).
q274 (round 10) — the 1-ROW family totals aggregate (ta, tb, m)
crossJoin-broadcast into the m-row test summary (the q114 family
shape).
q275 (round 10) — the 1-ROW pinned-order MMD² fold crossJoin-broadcast
into the 64-row per-dim table (both BNLJ sides summary-sized, the
q270 shape).
q278 (round 10) — TWO 1-ROW aggregates (the (N, ΣS, k) totals, then
the pinned-order num/den folds) crossJoin-broadcast into the k-row
group summary (the q270/q226 shape).
q281 (round 10) — TWO 1-ROW aggregates (the edge-count m, then the
pinned-order modularity fold) crossJoin-broadcast into the
communities-sized term table (the q278 shape).
q285 (round 11) — TWO 1-ROW aggregates (the pinned-order tempered-mass
denominator fold, then the doc-count budget; plus the 1-row
largest-remainder deficit) crossJoin-broadcast into the 5-row language
summary — exactly q152's adjudicated shape with a data-derived weight
vector.
q292 (round 11) — TWO 1-ROW aggregates (the pinned-order Σu/Σm totals,
then the selected water level λ) crossJoin-broadcast into the 5-row
language summary (the q285/q270 shape).
q294 (round 11) — the CONSTANT-BOUNDED canary probe batch (≤ 64 rows
by the md5-first-CANARY_BATCH limit — a TakeOrderedAndProject, O(1)
at any SF) crossJoin-broadcast into the documents scan with the
contains() predicate; the substring match cannot be an equi-join by
nature, and the broadcast side is capped by a compile-time constant
(the q220 probe-table argument, join-shaped).
(q167 LEFT the census in round 4: its curve fold moved driver-side.)
"""

from __future__ import annotations

BNLJ_ALLOWLIST: frozenset[str] = frozenset(
    {
        "q51", "q70", "q79", "q82", "q85", "q88", "q93", "q94",
        "q96", "q97", "q98", "q100", "q105", "q106", "q114", "q117",
        "q129", "q138", "q139", "q143", "q152", "q155", "q168",
        "q169", "q173", "q174", "q175", "q176", "q177", "q180",
        "q181", "q187", "q196", "q197", "q199", "q204", "q207",
        "q219", "q221", "q223", "q226", "q227", "q234", "q252",
        "q267", "q269", "q270", "q274", "q275", "q278", "q281",
        "q285", "q292", "q294",
    }
)
