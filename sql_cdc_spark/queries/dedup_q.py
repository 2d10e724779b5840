"""Deduplication queries over the documents table (north-star extension):
exact, MinHash+LSH, n-gram Jaccard, SimHash, embedding-cosine. Oracle SQL
is generated from the same constants as the Spark side (hash params,
band layout, bit widths) so both engines compute identical integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark import tables
from sql_cdc_spark.functions import dedup as DD
from sql_cdc_spark.functions import similarity as SIM
from sql_cdc_spark.queries import QueryEntry
from sql_cdc_spark.queries.text_q import _NORM_SQL

JACCARD_THRESHOLD = 0.1
NEAR_DUP_THRESHOLD = 0.5
EMB_DUP_THRESHOLD = 0.4
SIMHASH_MAX_HAMMING = 2
# LSH hot-band cap: band buckets holding more docs than this are dropped
# before the self-join (quadratic-blowup guard; see functions/dedup.py).
# Far above any honest bucket at test scale, so sf0.01 results are
# unchanged — the cap exists for the boilerplate-heavy tail at corpus scale.
LSH_MAX_BUCKET = 50

# ---- shared DuckDB CTE fragments (generated from the shared constants) ----

# shingle strings are hashed to their 60-bit md5-prefix int and the
# distinct is taken over the HASHED domain — mirroring doc_shingles, so
# both engines operate on byte-identical (doc_id, sh64) sets


def shingles_cte(src: str = "documents") -> str:
    """The toks→sh_all→shh CTE chain over any (doc_id, text) source —
    corpus_q's composed-manifest oracle shingles a gated SUBSET, not the
    raw table, so the source relation is a parameter."""
    return rf"""
toks AS (
  SELECT doc_id, string_split_regex({_NORM_SQL}, '\s+') AS t FROM {src}
),
sh_all AS (
  SELECT doc_id,
    unnest(CASE WHEN len(t) >= 3
           THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
           ELSE [array_to_string(t, ' ')] END) AS shingle
  FROM toks
),
shh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS sh64
  FROM sh_all
)
"""


_SHINGLES_CTE = shingles_cte()

_HASH_SQL = f"(sh64 % {DD.MINHASH_MOD})"

_SIG_COLS = ", ".join(
    f"MIN(({a} * {_HASH_SQL} + {b}) % {DD.MINHASH_MOD}) AS mh{i}"
    for i, (a, b) in enumerate(DD.MINHASH_PARAMS)
)

_SIGS_CTE = f"sigs AS (SELECT doc_id, {_SIG_COLS} FROM shh GROUP BY doc_id)"

_N_BANDS = DD.MINHASH_K // DD.LSH_BAND_ROWS
_BANDED_CTE = "banded AS (\n  " + "\n  UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band, "
    + " || '_' || ".join(
        f"CAST(mh{bi * DD.LSH_BAND_ROWS + r} AS VARCHAR)"
        for r in range(DD.LSH_BAND_ROWS)
    )
    + " AS bval FROM sigs"
    for bi in range(_N_BANDS)
) + "\n)"

_CANDIDATES_CTE = f"""
capped AS (
  SELECT doc_id, band, bval FROM (
    SELECT doc_id, band, bval,
           COUNT(*) OVER (PARTITION BY band, bval) AS bsz
    FROM banded
  ) WHERE bsz <= {LSH_MAX_BUCKET}
),
cands AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM capped l JOIN capped r
    ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
)
"""

_JACCARD_CTE = """
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM shh a JOIN shh b ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
jac AS (
  SELECT i.id_a, i.id_b,
         ROUND(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
)
"""


def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-of-normalized-text digest → canonical id + copy
    count. One map-side-combined groupBy — the 100 TB baseline dedup."""
    docs = tables.load(spark, sf_dir, "documents")
    return DD.exact_duplicates(docs)


_EXACT_SQL = f"""
SELECT md5({_NORM_SQL}) AS digest, MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8 permutations over 3-token shingles):
    |docs| × k ints — the linear-size sketch replacing all-pairs work."""
    docs = tables.load(spark, sf_dir, "documents")
    return DD.minhash_signatures(DD.doc_shingles(docs))


_MINHASH_SQL = f"WITH {_SHINGLES_CTE}, {_SIGS_CTE} SELECT * FROM sigs"


def dd_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 2 rows): candidate pairs sharing any band.
    The quadratic pair space never materializes — only same-bucket pairs,
    and hot buckets above LSH_MAX_BUCKET are dropped (skew guard)."""
    docs = tables.load(spark, sf_dir, "documents")
    sigs = DD.minhash_signatures(DD.doc_shingles(docs))
    return DD.lsh_candidate_pairs(sigs, max_bucket_size=LSH_MAX_BUCKET)


_LSH_SQL = f"WITH {_SHINGLES_CTE}, {_SIGS_CTE}, {_BANDED_CTE}, {_CANDIDATES_CTE} SELECT id_a, id_b FROM cands"


def _shingle_base(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-cached (shingled, sigs) pair — the shared materialization
    behind the whole MinHash family (dd_near_dup_pairs, dd_dup_clusters,
    dd_cluster_canonical, dd_lsh_recall_eval). The shingle explode feeds
    three subtrees per query (signatures + both Jaccard sides) and the
    SAME frames feed four registry queries, so a session running the
    family (the bench and the oracle suite do, every round) pays the
    explode and the signature aggregate once. Kept persisted after an r4
    A/B at sf0.1 (persist 1.67 s vs lazy 2.13 s best-of-3: the re-read
    work past the shuffle is heavy enough to win). Lifecycle — one entry
    per session+sf_dir, re-persist after an external clearCache,
    dead-session eviction — is the _cache.session_cached contract
    (moved from per-query bare persists, VERDICT r6 #6: uniform
    lifecycle, clearCache-proof).

    ``sigs`` carries n_sh: one aggregate produces signatures AND set
    sizes, so the Jaccard stage reuses n_sh instead of a second groupBy
    over the shingle table (callers that band drop it)."""
    from sql_cdc_spark.queries._cache import session_cached

    shingled = session_cached(
        spark,
        ("shingle_base", sf_dir),
        lambda: DD.doc_shingles(tables.load(spark, sf_dir, "documents")),
    )
    sigs = session_cached(
        spark,
        ("shingle_sigs", sf_dir),
        lambda: DD.minhash_signatures(shingled, with_sizes=True),
    )
    return shingled, sigs


def dd_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: LSH candidates verified by
    exact shingle Jaccard ≥ 0.5 — sketch for recall, exact check for
    precision."""
    shingled, sigs = _shingle_base(spark, sf_dir)
    cands = DD.lsh_candidate_pairs(
        sigs.drop("n_sh"), max_bucket_size=LSH_MAX_BUCKET
    )
    return DD.jaccard_pairs(
        shingled,
        cands,
        threshold=NEAR_DUP_THRESHOLD,
        sizes=sigs.select("doc_id", "n_sh"),
    )


_NEAR_DUP_SQL = f"""
WITH {_SHINGLES_CTE}, {_SIGS_CTE}, {_BANDED_CTE}, {_CANDIDATES_CTE}, {_JACCARD_CTE}
SELECT j.id_a, j.id_b, j.jaccard
FROM jac j JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b
WHERE j.jaccard >= {NEAR_DUP_THRESHOLD}
"""


def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster assignment: connected components over the verified
    near-dup pairs (iterative min-label propagation — the DataFrame form
    of an algorithm Spark has no built-in for; functions/dedup.py). The
    oracle walks the same graph with a recursive CTE, proving the
    fixpoint matches exactly. cluster_id = min doc_id per component; the
    keep-set of a dedup run is ``doc_id == cluster_id``."""
    shingled, sigs = _shingle_base(spark, sf_dir)
    cands = DD.lsh_candidate_pairs(
        sigs.drop("n_sh"), max_bucket_size=LSH_MAX_BUCKET
    )
    pairs = DD.jaccard_pairs(
        shingled,
        cands,
        threshold=NEAR_DUP_THRESHOLD,
        sizes=sigs.select("doc_id", "n_sh"),
    )
    return DD.dup_clusters(pairs).orderBy("doc_id")


# verified near-dup pairs → undirected edges → min-label reachability
# (the oracle twin of functions/dedup.dup_clusters); appended after the
# shingle/sig/band/candidate/jaccard chain. Exported so corpus_q's
# composed-manifest oracle can run the same machinery over a gated subset.
CLUSTER_TAIL_CTE = f"""
pairs AS (
  SELECT j.id_a, j.id_b
  FROM jac j JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b
  WHERE j.jaccard >= {NEAR_DUP_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
members AS (
  SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
)
"""

# shared recursive-CTE prefix over the full documents table
_CLUSTERS_PREFIX = f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_SIGS_CTE}, {_BANDED_CTE}, {_CANDIDATES_CTE}, {_JACCARD_CTE},
{CLUSTER_TAIL_CTE}
"""

_DUP_CLUSTERS_SQL = f"""
{_CLUSTERS_PREFIX}
SELECT doc_id, cluster_id FROM members ORDER BY doc_id
"""


def dd_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document election per duplicate cluster — the step that
    turns cluster assignments into a dedup DECISION: keep the longest
    member (most content), break ties on smallest doc_id. Emits the
    per-cluster keep/drop census a dedup run reports. Two grouped passes
    over the |members| table (tiny relative to the corpus: only docs in
    some cluster), both map-side combined; no window over the corpus."""
    docs = tables.load(spark, sf_dir, "documents")
    shingled, sigs = _shingle_base(spark, sf_dir)
    cands = DD.lsh_candidate_pairs(
        sigs.drop("n_sh"), max_bucket_size=LSH_MAX_BUCKET
    )
    pairs = DD.jaccard_pairs(
        shingled,
        cands,
        threshold=NEAR_DUP_THRESHOLD,
        sizes=sigs.select("doc_id", "n_sh"),
    )
    sized = DD.dup_clusters(pairs).join(
        docs.select("doc_id", "n_chars"), "doc_id", "inner"
    )
    best = sized.groupBy("cluster_id").agg(
        F.max("n_chars").alias("rep_chars"),
        F.count(F.lit(1)).alias("n_members"),
    )
    # deliberately NOT hinted (r9 opt A/B): the stats-less fallback here
    # is a sort-merge, but both sides are cluster-population-sized (one
    # row per clustered doc / per cluster — tiny relative to the
    # corpus), and a pinned shuffle-hash measured SLOWER at sf0.1
    # (0.337 s SMJ vs 0.390 s SHJ best-of-3, same-window interleaved,
    # clean probes) — the sort is trivial at this relation size and the
    # per-partition hash build is pure overhead
    return (
        sized.join(best, "cluster_id", "inner")
        .filter(F.col("n_chars") == F.col("rep_chars"))
        .groupBy("cluster_id", "n_members", "rep_chars")
        .agg(F.min("doc_id").alias("canonical_id"))
        .select(
            "cluster_id",
            "canonical_id",
            "n_members",
            "rep_chars",
            (F.col("n_members") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


_CLUSTER_CANONICAL_SQL = f"""
{_CLUSTERS_PREFIX},
sized AS (
  SELECT m.cluster_id, m.doc_id, d.n_chars
  FROM members m JOIN documents d ON m.doc_id = d.doc_id
),
best AS (
  SELECT cluster_id, MAX(n_chars) AS rep_chars, COUNT(*) AS n_members
  FROM sized GROUP BY cluster_id
)
SELECT s.cluster_id, MIN(s.doc_id) AS canonical_id, b.n_members, b.rep_chars,
       b.n_members - 1 AS n_dropped
FROM sized s JOIN best b ON s.cluster_id = b.cluster_id AND s.n_chars = b.rep_chars
GROUP BY s.cluster_id, b.n_members, b.rep_chars
ORDER BY s.cluster_id
"""


def dd_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.1, blocked on shared shingles (pairs
    with zero overlap are never generated — the no-LSH exact variant).

    r10: reads the session-cached family shingle frame and reuses its
    n_sh sizes (one shingle explode + one size aggregate per session
    across the whole MinHash/Jaccard/containment family) instead of a
    private doc_shingles scan + a second per-doc count over it — the
    same share _shared_containment_base adopted in r9 (guide §2.4/§5).
    Values unchanged: n_sh is the identical per-doc distinct-shingle
    count either way."""
    shingled, sigs = _shingle_base(spark, sf_dir)
    return DD.jaccard_pairs(
        shingled,
        threshold=JACCARD_THRESHOLD,
        sizes=sigs.select("doc_id", "n_sh"),
    )


_JACCARD_PAIRS_SQL = f"""
WITH {_SHINGLES_CTE}, {_JACCARD_CTE}
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
"""

# ---- LSH recall evaluation (round 6) --------------------------------------


def dd_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded recall of MinHash-LSH candidate generation against exact
    shingle-Jaccard ground truth — the measurement that tunes band/row
    counts and the hot-bucket cap BEFORE trusting the sketch (the text
    twin of sim_ann_recall_eval): for each Jaccard decade band ≥ the
    similarity floor (0.1 — the whole operating range, not just the
    near-dup region), how many true pairs exist and how many the banded
    signatures actually surfaced. The classic LSH S-curve should be
    visible in the output — low recall in the sub-threshold bands, high
    recall above the 0.5 design point — and a cap-induced recall hole
    shows up as a depressed band.

    Scale shape: truth = the shared-shingle-blocked exact pairs (pairs
    with zero overlap never generated); candidates = the capped band
    join; the two pair tables meet on (id_a, id_b) with a pinned
    shuffle-hash (both sides scale with the corpus — the documented
    pair-table broadcast ban). The shingle table is the session-cached
    _shingle_base materialization dd_near_dup_pairs shares — one
    persisted entry per session+sf_dir under the _cache.session_cached
    lifecycle (VERDICT r6 #6), feeding both the truth and candidate
    sides."""
    shingled, sigs = _shingle_base(spark, sf_dir)
    exact = DD.jaccard_pairs(shingled, threshold=JACCARD_THRESHOLD)
    cands = DD.lsh_candidate_pairs(
        sigs.drop("n_sh"), max_bucket_size=LSH_MAX_BUCKET
    ).select("id_a", "id_b", F.lit(1).alias("caught"))
    joined = exact.join(cands.hint("shuffle_hash"), ["id_a", "id_b"], "left")
    banded = joined.select(
        (F.least(F.floor(F.col("jaccard") * 10), F.lit(9)) * 10)
        .cast("long")
        .alias("band_lo"),
        F.coalesce("caught", F.lit(0)).alias("caught"),
    )
    return (
        banded.groupBy("band_lo")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum("caught").cast("long").alias("n_caught"),
        )
        .select(
            "band_lo",
            "n_exact",
            "n_caught",
            F.expr("100 * n_caught div n_exact").alias("recall_pct"),
        )
        .orderBy("band_lo")
    )


_LSH_RECALL_SQL = f"""
WITH {_SHINGLES_CTE}, {_SIGS_CTE}, {_BANDED_CTE}, {_CANDIDATES_CTE}, {_JACCARD_CTE},
ex AS (SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
flagged AS (
  SELECT CAST(LEAST(floor(e.jaccard * 10), 9) * 10 AS BIGINT) AS band_lo,
         CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM ex e LEFT JOIN cands c ON e.id_a = c.id_a AND e.id_b = c.id_b
)
SELECT band_lo, COUNT(*) AS n_exact,
       CAST(SUM(caught) AS BIGINT) AS n_caught,
       100 * CAST(SUM(caught) AS BIGINT) // COUNT(*) AS recall_pct
FROM flagged GROUP BY band_lo ORDER BY band_lo
"""


# ---- SimHash ----

_TOK_CTE = rf"""
tokc AS (
  SELECT doc_id, tk, COUNT(*) AS cnt FROM (
    SELECT doc_id, unnest(string_split_regex({_NORM_SQL}, '\s+')) AS tk
    FROM documents
  ) GROUP BY doc_id, tk
),
hashed AS (
  SELECT doc_id, cnt,
         CAST(('0x' || substring(md5(tk), 1, 15)) AS BIGINT) AS hv
  FROM tokc
)
"""

_BIT_SUMS = ", ".join(
    f"SUM(cnt * (((hv >> {b}) & 1) * 2 - 1)) AS s{b}" for b in range(DD.SIMHASH_BITS)
)
_SIM_EXPR = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(DD.SIMHASH_BITS)
)
_SIMS_CTE = f"""
per AS (SELECT doc_id, {_BIT_SUMS} FROM hashed GROUP BY doc_id),
sims AS (SELECT doc_id, CAST({_SIM_EXPR} AS BIGINT) AS simhash FROM per)
"""


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (token-count weighted, all-integer)."""
    docs = tables.load(spark, sf_dir, "documents")
    return DD.simhash(docs)


_SIMHASH_SQL = f"WITH {_TOK_CTE}, {_SIMS_CTE} SELECT doc_id, simhash FROM sims"


def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit signature halves, verify
    hamming ≤ 2 via xor + bit_count (pure integer codegen)."""
    docs = tables.load(spark, sf_dir, "documents")
    return DD.simhash_pairs(DD.simhash(docs), max_hamming=SIMHASH_MAX_HAMMING)


_SIMHASH_PAIRS_SQL = f"""
WITH {_TOK_CTE}, {_SIMS_CTE},
blocked AS (
  SELECT doc_id, simhash, 0 AS half, simhash & 65535 AS key FROM sims
  UNION ALL
  SELECT doc_id, simhash, 1, (simhash >> 16) & 65535 FROM sims
),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
  FROM blocked l JOIN blocked r
    ON l.half = r.half AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


# Deterministic synthetic CDC batch for the incremental-maintenance
# query: residue-class deletes/updates/inserts derived from doc_id, so
# the Spark incremental path and the DuckDB full-recompute oracle build
# the same post-change corpus from the same constants.
INC_DEL = (13, 5)       # delete docs with doc_id % 13 == 5
INC_UPD = (11, 3)       # update docs with doc_id % 11 == 3 (delete wins)
INC_INS = (19, 7)       # insert a copy of docs with doc_id % 19 == 7 ...
INC_ID_OFFSET = 1_000_000  # ... under doc_id + offset (disjoint id space)
INC_SUFFIX = " revised edition"


def dd_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup maintenance through a CDC batch — build the
    materialized near-dup state, apply deletes/updates/inserts via
    apply_near_dup_changes (only touched docs re-shingled, only affected
    band buckets re-paired), and emit the maintained pair set. The DuckDB
    oracle is a FULL RECOMPUTE over the post-change corpus, so a green
    row proves incremental == from-scratch on real data — the operator a
    100 TB corpus pipeline runs daily instead of re-deduping the world.
    The inserted docs are verbatim copies under fresh ids, so the batch
    genuinely creates new near-dup pairs; deletes retire old ones."""
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    is_del = (F.col("doc_id") % INC_DEL[0]) == INC_DEL[1]
    is_upd = ((F.col("doc_id") % INC_UPD[0]) == INC_UPD[1]) & ~is_del
    is_ins = (F.col("doc_id") % INC_INS[0]) == INC_INS[1]
    deletes = docs.filter(is_del).select("doc_id")
    updates = docs.filter(is_upd).select(
        "doc_id", F.concat(F.col("text"), F.lit(INC_SUFFIX)).alias("text")
    )
    inserts = docs.filter(is_ins).select(
        (F.col("doc_id") + INC_ID_OFFSET).alias("doc_id"), "text"
    )
    state = DD.build_near_dup_state(
        docs, max_bucket_size=LSH_MAX_BUCKET, threshold=NEAR_DUP_THRESHOLD
    )
    new_state = DD.apply_near_dup_changes(
        state,
        updates.unionByName(inserts),
        deletes,
        max_bucket_size=LSH_MAX_BUCKET,
        threshold=NEAR_DUP_THRESHOLD,
    )
    # the new state is materialized; free the superseded base state and
    # the non-result tables so back-to-back driver queries don't stack
    # checkpoint blocks — only the returned pair snapshot stays alive
    DD.release_local_checkpoint(state)
    DD.release_local_checkpoint(new_state._replace(pairs=None))
    return new_state.pairs.orderBy("id_a", "id_b")


_INC_NEW_DOCS_CTE = f"""
new_docs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % {INC_DEL[0]} <> {INC_DEL[1]}
    AND doc_id % {INC_UPD[0]} <> {INC_UPD[1]}
  UNION ALL
  SELECT doc_id, text || '{INC_SUFFIX}' FROM documents
  WHERE doc_id % {INC_UPD[0]} = {INC_UPD[1]}
    AND doc_id % {INC_DEL[0]} <> {INC_DEL[1]}
  UNION ALL
  SELECT doc_id + {INC_ID_OFFSET}, text FROM documents
  WHERE doc_id % {INC_INS[0]} = {INC_INS[1]}
)
"""

_INC_NEAR_DUP_SQL = f"""
WITH {_INC_NEW_DOCS_CTE}, {shingles_cte("new_docs")}, {_SIGS_CTE}, {_BANDED_CTE}, {_CANDIDATES_CTE}, {_JACCARD_CTE}
SELECT j.id_a, j.id_b, j.jaccard
FROM jac j JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b
WHERE j.jaccard >= {NEAR_DUP_THRESHOLD}
ORDER BY j.id_a, j.id_b
"""


CONTAINMENT_DF_CAP = 20
CONTAINMENT_THRESHOLD = 0.2


def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs ≥ 0.2 over the rare-shingle
    domain (df ≤ 20) — catches the short-doc-inside-long-doc duplication
    that symmetric Jaccard misses (a quote or excerpt has Jaccard
    |A|/|B| but containment ~1.0), judged by DISTINCTIVE shingles only
    (boilerplate does not count toward containment; hot-shingle
    broadcast anti-join is the skew guard). One self-join aggregated
    straight to pair intersections — no candidate materialization
    (functions/dedup.py::containment_pairs). Emits rare-set sizes so
    the asymmetry is visible in the result."""
    return DD.containment_pairs(
        None,
        df_cap=CONTAINMENT_DF_CAP,
        threshold=CONTAINMENT_THRESHOLD,
        base=_shared_containment_base(spark, sf_dir),
    ).orderBy("id_a", "id_b")


def _shared_containment_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached unthresholded containment pair table.
    dd_containment_pairs and dd_containment_sweep differ only in their
    cheap final projection/aggregation over this base; a session running
    both (the bench does, every round) pays the rare-domain intersection
    build once and the second query reads the persisted pair table
    (VERDICT r4 #5). Lifecycle — one entry per session+sf_dir, re-persist
    after an external clearCache, dead-session eviction — is the
    _cache.session_cached contract. Entries are ≤ the thresholdless pair
    table, which the df_cap bound keeps linear-ish in the corpus
    (≤ df_cap²/2 pairs per rare shingle)."""
    from sql_cdc_spark.queries._cache import session_cached

    def build() -> DataFrame:
        # reuse the family-wide session-cached shingle frame instead of
        # a private doc_shingles scan: a session running the MinHash
        # family and containment (the bench and the oracle suite do,
        # every round) pays the normalize/tokenize/shingle/hash explode
        # ONCE — the r9 10× decomposition put that scan at ~74% of the
        # containment pipeline, dwarfing the pair machinery
        shingled, _ = _shingle_base(spark, sf_dir)
        return DD.containment_base(shingled, "doc_id", CONTAINMENT_DF_CAP)

    return session_cached(spark, ("containment_base", sf_dir), build)


# the hot→rsh→sizes→inter→cont chain over whatever `shh` the prefix
# CTEs produced — shared by the full-corpus query, the incremental-
# maintenance oracle (which shingles the post-change corpus instead)
# and the threshold sweep (which consumes cont's raw n_inter)
_CONTAINMENT_CHAIN = f"""
hot AS (
  SELECT sh64 FROM shh GROUP BY sh64 HAVING COUNT(*) > {CONTAINMENT_DF_CAP}
),
rsh AS (
  SELECT s.doc_id, s.sh64 FROM shh s ANTI JOIN hot h ON s.sh64 = h.sh64
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM rsh a JOIN rsh b ON a.sh64 = b.sh64 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cont AS (
  SELECT i.id_a, i.id_b, sa.n_sh AS n_a, sb.n_sh AS n_b, i.n_inter,
         ROUND(i.n_inter * 1.0 / LEAST(sa.n_sh, sb.n_sh), 6) AS containment
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
)
"""

_CONTAINMENT_BODY = f"""{_CONTAINMENT_CHAIN}
SELECT id_a, id_b, n_a, n_b, containment
FROM cont WHERE containment >= {CONTAINMENT_THRESHOLD}
ORDER BY id_a, id_b
"""

_CONTAINMENT_SQL = f"WITH {_SHINGLES_CTE}, {_CONTAINMENT_BODY}"

# integer percents; the sweep predicate is 100·n_inter ≥ pct·min(n_a,n_b),
# cleared of division/rounding so membership is bit-identical on any engine
CONTAINMENT_SWEEP_PCTS = (10, 20, 50)


def dd_containment_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment operating-point sweep: for each threshold percent,
    the pair count and the distinct-doc count those pairs touch — the
    report that picks the dedup threshold BEFORE committing a pass. One
    shared rare-domain intersection table feeds every threshold
    (functions/dedup.py::containment_sweep); extra thresholds never add
    a corpus scan.

    Registry status: oracle-parity-gated in pytest; registered FIRST in
    the round-5 driver window. Shares the session-cached rare-domain
    base with dd_containment_pairs (VERDICT r4 #5).
    """
    return DD.containment_sweep(
        None,
        df_cap=CONTAINMENT_DF_CAP,
        thresholds_pct=CONTAINMENT_SWEEP_PCTS,
        base=_shared_containment_base(spark, sf_dir),
    )


_SWEEP_VALUES = ", ".join(f"({p})" for p in CONTAINMENT_SWEEP_PCTS)

_CONTAINMENT_SWEEP_SQL = f"""
WITH {_SHINGLES_CTE}, {_CONTAINMENT_CHAIN},
sw AS (
  SELECT t.pct, c.id_a, c.id_b
  FROM cont c CROSS JOIN (VALUES {_SWEEP_VALUES}) t(pct)
  WHERE 100 * c.n_inter >= t.pct * LEAST(c.n_a, c.n_b)
),
ids AS (
  SELECT pct, id_a AS d FROM sw UNION ALL SELECT pct, id_b AS d FROM sw
)
SELECT pct AS threshold_pct,
       COUNT(*) // 2 AS n_pairs,
       COUNT(DISTINCT d) AS n_docs
FROM ids GROUP BY pct ORDER BY threshold_pct
"""


def dd_incremental_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental containment-dedup maintenance through a CDC batch —
    build the materialized containment state, apply the same
    deletes/updates/inserts as dd_incremental_near_dup via
    apply_containment_changes, and emit the maintained pair set. Beyond
    the near-dup analog, this maintains GLOBAL state exactly: a batch
    shifting a shingle's document frequency across df_cap changes
    pairs of documents the batch never touched, and the affected-doc
    closure (touched ∪ holders of flipped shingles) re-derives exactly
    those. The DuckDB oracle is a FULL RECOMPUTE of containment over
    the post-change corpus, so a green row proves incremental ==
    from-scratch on real data."""
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    is_del = (F.col("doc_id") % INC_DEL[0]) == INC_DEL[1]
    is_upd = ((F.col("doc_id") % INC_UPD[0]) == INC_UPD[1]) & ~is_del
    is_ins = (F.col("doc_id") % INC_INS[0]) == INC_INS[1]
    deletes = docs.filter(is_del).select("doc_id")
    updates = docs.filter(is_upd).select(
        "doc_id", F.concat(F.col("text"), F.lit(INC_SUFFIX)).alias("text")
    )
    inserts = docs.filter(is_ins).select(
        (F.col("doc_id") + INC_ID_OFFSET).alias("doc_id"), "text"
    )
    state = DD.build_containment_state(
        docs, df_cap=CONTAINMENT_DF_CAP, threshold=CONTAINMENT_THRESHOLD
    )
    new_state = DD.apply_containment_changes(
        state,
        updates.unionByName(inserts),
        deletes,
        df_cap=CONTAINMENT_DF_CAP,
        threshold=CONTAINMENT_THRESHOLD,
    )
    DD.release_local_checkpoint(state)
    DD.release_local_checkpoint(new_state._replace(pairs=None))
    return new_state.pairs.orderBy("id_a", "id_b")


_INC_CONTAINMENT_SQL = (
    f"WITH {_INC_NEW_DOCS_CTE}, {shingles_cte('new_docs')}, "
    f"{_CONTAINMENT_BODY}"
)


def dd_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-overlap duplication matrix — the data-governance report:
    for every source pair (src_a ≤ src_b), how many EXACT-duplicate
    document pairs and how many NEAR-duplicate pairs (MinHash-LSH ≥ 0.5)
    cross them. 'Which feeds are re-crawling each other' is the question
    a corpus owner asks before weighting sources in the mixture plan.

    Scale shape: the exact side never materializes document pairs — it
    aggregates per-(digest, source) COUNTS first, self-joins that tiny
    table on digest, and converts count products to pair counts
    (c·(c−1)/2 within a source, c_a·c_b across). The near side reuses
    the capped-LSH verified pair set (linear-ish) and attaches the two
    endpoint sources. Both integer-exact bigints.

    Registry status: oracle-parity-gated in pytest this round (plus a
    planted fixture covering the exact-pair math, since the sf0.01
    corpus holds no exact duplicates); enters the driver window in
    round 5 with the other late-r4 queries. r10: the near side feeds
    from the session-cached family shingle frame (VERDICT r9 #6 — one
    shingle explode + signature aggregate per session across the dedup
    family) instead of a private scan; values unchanged."""
    return source_overlap_matrix(
        tables.load(spark, sf_dir, "documents"),
        base=_shingle_base(spark, sf_dir),
    )


def source_overlap_matrix(
    docs: DataFrame, base: tuple[DataFrame, DataFrame] | None = None
) -> DataFrame:
    """The (src_a, src_b, exact_pairs, near_pairs) census over any
    (doc_id, text, source) corpus — see dd_source_overlap. ``base``
    optionally supplies a pre-built (shingled, sigs-with-n_sh) pair
    (the registry path passes the session-cached family frames)."""
    from sql_cdc_spark.functions.text import fingerprint

    dsrc = (
        docs.select(fingerprint(F.col("text")).alias("digest"), "source")
        .groupBy("digest", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = dsrc.select("digest", F.col("source").alias("src_a"), F.col("c").alias("ca"))
    b = dsrc.select("digest", F.col("source").alias("src_b"), F.col("c").alias("cb"))
    exact = (
        a.join(b, "digest")
        .filter(F.col("src_a") <= F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.when(
                F.col("src_a") == F.col("src_b"),
                # integer div, not float '/': ca·(ca−1) past 2^53 would
                # round through double and break the bigint-exact contract
                F.expr("ca * (ca - 1) div 2"),
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .alias("p"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.sum("p").alias("exact_pairs"))
        .filter(F.col("exact_pairs") > 0)
    )

    if base is None:
        sh = DD.doc_shingles(docs)
        sigs = DD.minhash_signatures(sh, with_sizes=True)
    else:
        sh, sigs = base
    cands = DD.lsh_candidate_pairs(
        sigs.drop("n_sh"), max_bucket_size=LSH_MAX_BUCKET
    )
    pairs = DD.jaccard_pairs(
        sh, cands, threshold=NEAR_DUP_THRESHOLD,
        sizes=sigs.select("doc_id", "n_sh"),
    )
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    # the doc→source map is corpus-sized — broadcasting IT would ship
    # |docs| rows to every executor; the verified pair set is the small
    # side, so plain hash joins (AQE broadcasts pairs when they fit)
    near = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("near_pairs"))
    )

    zero = F.lit(0).cast("long")
    return (
        exact.join(near, ["src_a", "src_b"], "full_outer")
        .select(
            "src_a",
            "src_b",
            F.coalesce("exact_pairs", zero).alias("exact_pairs"),
            F.coalesce("near_pairs", zero).alias("near_pairs"),
        )
        .orderBy("src_a", "src_b")
    )


_SOURCE_OVERLAP_SQL = f"""
WITH {_SHINGLES_CTE}, {_SIGS_CTE}, {_BANDED_CTE}, {_CANDIDATES_CTE}, {_JACCARD_CTE},
nd AS (
  SELECT j.id_a, j.id_b
  FROM jac j JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b
  WHERE j.jaccard >= {NEAR_DUP_THRESHOLD}
),
npairs AS (
  SELECT LEAST(sa.source, sb.source) AS src_a,
         GREATEST(sa.source, sb.source) AS src_b
  FROM nd
  JOIN documents sa ON nd.id_a = sa.doc_id
  JOIN documents sb ON nd.id_b = sb.doc_id
),
nagg AS (SELECT src_a, src_b, COUNT(*) AS near_pairs FROM npairs GROUP BY 1, 2),
dsrc AS (
  SELECT md5({_NORM_SQL}) AS digest, source, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
),
ex AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(SUM(CASE WHEN a.source = b.source
                       THEN a.c * (a.c - 1) // 2
                       ELSE a.c * b.c END) AS BIGINT) AS exact_pairs
  FROM dsrc a JOIN dsrc b ON a.digest = b.digest AND a.source <= b.source
  GROUP BY 1, 2
  HAVING CAST(SUM(CASE WHEN a.source = b.source
                       THEN a.c * (a.c - 1) // 2
                       ELSE a.c * b.c END) AS BIGINT) > 0
)
SELECT COALESCE(e.src_a, n.src_a) AS src_a,
       COALESCE(e.src_b, n.src_b) AS src_b,
       COALESCE(e.exact_pairs, 0) AS exact_pairs,
       COALESCE(n.near_pairs, 0) AS near_pairs
FROM ex e FULL OUTER JOIN nagg n ON e.src_a = n.src_a AND e.src_b = n.src_b
ORDER BY src_a, src_b
"""


def dd_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.4. Demonstrates the exact
    all-pairs verification; at corpus scale the LSH-bucketed variant
    (sim_lsh_buckets) prunes the pair space first."""
    emb = tables.load(spark, sf_dir, "embeddings")
    e = SIM.as_double_array(F.col("embedding"))
    v = emb.select(F.col("vec_id"), e.alias("e"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            SIM.cosine(F.col("a.e"), F.col("b.e")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= EMB_DUP_THRESHOLD)
    )


_EMB_DUP_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
           AS cos_sim
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= {EMB_DUP_THRESHOLD}
"""

def dd_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication census
    (functions/dedup.py::duplicate_spans): per-doc count and fraction of
    SPAN_W-token windows that also occur in another document. The oracle
    replays the identical window hashing (md5-prefix 60-bit ints) in
    DuckDB, so window membership — 60-bit collisions included — is
    byte-identical by construction."""
    docs = tables.load(spark, sf_dir, "documents")
    return DD.duplicate_spans(docs).orderBy("doc_id")


_W = DD.SPAN_W
_DUP_SPANS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex({_NORM_SQL}, '\s+') AS t FROM documents
),
win_strs AS (
  SELECT doc_id,
    unnest(CASE WHEN len(t) >= {_W}
           THEN list_transform(range(1, len(t) - {_W} + 2),
                               i -> array_to_string(t[i:i+{_W - 1}], ' '))
           ELSE [] END) AS w
  FROM toks
),
wins AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) AS whash
  FROM win_strs
),
dup_w AS (
  SELECT whash, COUNT(*) AS n_docs FROM wins GROUP BY whash HAVING COUNT(*) >= 2
),
per_doc AS (
  SELECT w.doc_id,
         COUNT(*) AS n_windows,
         COUNT(d.n_docs) AS n_dup_windows
  FROM wins w LEFT JOIN dup_w d ON w.whash = d.whash
  GROUP BY w.doc_id
)
SELECT doc_id, n_windows, n_dup_windows,
       ROUND(n_dup_windows / n_windows, 6) AS dup_fraction
FROM per_doc WHERE n_dup_windows > 0
ORDER BY doc_id
"""


# ---- exact-dedup impact report (round 6) ---------------------------------


def dd_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-dedup impact — the report a curation run reads
    BEFORE committing a dedup pass: how many docs (and how much text)
    each source loses when every md5-digest group keeps only its
    lowest-doc_id canonical. The duplicate flag is a per-digest MIN
    window (partitioned by digest — a digest group is a handful of rows
    at any corpus size), so the whole report is ONE digest shuffle plus
    one per-source aggregate: no self-join, no pair materialization.
    dup share is integer ppm (1e6·n_dup div n_docs), engine-identical."""
    from pyspark.sql import Window

    from sql_cdc_spark.functions.text import fingerprint

    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", fingerprint(F.col("text")).alias("digest")
    )
    canon = F.min("doc_id").over(Window.partitionBy("digest"))
    flagged = docs.select(
        "source",
        "n_chars",
        (F.col("doc_id") != canon).cast("long").alias("is_dup"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum(F.col("is_dup") * F.col("n_chars")).cast("long").alias(
                "n_dup_chars"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "n_chars",
            "n_dup_chars",
            F.expr("1000000 * n_dup_docs div n_docs").alias("dup_ppm"),
        )
        .orderBy("source")
    )


_DEDUP_IMPACT_SQL = f"""
WITH flagged AS (
  SELECT source, n_chars,
         CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5({_NORM_SQL}))
              THEN 1 ELSE 0 END AS is_dup
  FROM documents
),
agg AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(SUM(is_dup * n_chars) AS BIGINT) AS n_dup_chars
  FROM flagged GROUP BY source
)
SELECT source, n_docs, n_dup_docs, n_chars, n_dup_chars,
       1000000 * n_dup_docs // n_docs AS dup_ppm
FROM agg ORDER BY source
"""


QUERIES: dict[str, QueryEntry] = {
    "dd_exact": QueryEntry(dd_exact, _EXACT_SQL),
    "dd_dedup_impact": QueryEntry(dd_dedup_impact, _DEDUP_IMPACT_SQL),
    "dd_duplicate_spans": QueryEntry(dd_duplicate_spans, _DUP_SPANS_SQL),
    "dd_minhash_signatures": QueryEntry(dd_minhash_signatures, _MINHASH_SQL),
    "dd_lsh_candidate_pairs": QueryEntry(dd_lsh_candidate_pairs, _LSH_SQL),
    "dd_near_dup_pairs": QueryEntry(dd_near_dup_pairs, _NEAR_DUP_SQL),
    "dd_dup_clusters": QueryEntry(dd_dup_clusters, _DUP_CLUSTERS_SQL),
    "dd_cluster_canonical": QueryEntry(
        dd_cluster_canonical, _CLUSTER_CANONICAL_SQL
    ),
    "dd_jaccard_pairs": QueryEntry(dd_jaccard_pairs, _JACCARD_PAIRS_SQL),
    "dd_lsh_recall_eval": QueryEntry(dd_lsh_recall_eval, _LSH_RECALL_SQL),
    "dd_simhash": QueryEntry(dd_simhash, _SIMHASH_SQL),
    "dd_simhash_pairs": QueryEntry(dd_simhash_pairs, _SIMHASH_PAIRS_SQL),
    "dd_containment_pairs": QueryEntry(dd_containment_pairs, _CONTAINMENT_SQL),
    "dd_containment_sweep": QueryEntry(
        dd_containment_sweep, _CONTAINMENT_SWEEP_SQL
    ),
    "dd_source_overlap": QueryEntry(dd_source_overlap, _SOURCE_OVERLAP_SQL),
    "dd_embedding_dup_pairs": QueryEntry(dd_embedding_dup_pairs, _EMB_DUP_SQL),
    "dd_incremental_near_dup": QueryEntry(
        dd_incremental_near_dup, _INC_NEAR_DUP_SQL
    ),
    "dd_incremental_containment": QueryEntry(
        dd_incremental_containment, _INC_CONTAINMENT_SQL
    ),
}
