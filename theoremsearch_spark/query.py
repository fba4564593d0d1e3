"""Batch BM25 top-k serving over the inverted index.

Replaces the reference's serving path — pgvector `<#>` top-k with
conjunctive metadata filters pushed inside the ranked query
(/root/reference/streamlit_app.py:252-283) — with posting-list
retrieval:

  1. tokenize the query batch (driver-side; the query set is small, the
     reference's is 73 rows — /root/reference/validation_set.csv);
  2. scan only the posting blocks of the touched terms — the `term
     IN (...)` predicate is pushed into the parquet scan, so the job
     reads a few MB of a multi-TB index;
  3. fan blocks out to queries with a broadcast (term → query) join;
  4. **segment-sharded scoring**: queries that touch a salted (heavy /
     stopword) term are scored as one group per doc-segment, keyed
     (query_id, serve_seg). A heavy term's segment-s blocks route to
     exactly group (q, s) — never replicated — so no group ever holds
     a whole stopword posting list; light lists (df ≤ salt_threshold,
     bounded bytes by construction) are replicated to the S groups
     and filtered to the group's doc residue. Segments are
     doc-disjoint (build salts by doc_id % S), so per-segment top-k is
     exact for its docs; the global answer is a tiny merge of S·k rows
     per query. Queries with no heavy term keep the single-group path.
     The fan is hash-partitioned and sorted by the group key and scored
     by one `mapInPandas` pass (`_score_fan`): each Arrow batch is
     converted to numpy once and cut into groups at key changes, and a
     group that straddles a batch is carried into the next one — no
     per-group pandas↔Arrow round trip;
  5. per group: vectorized block-max pruning (MaxScore/WAND
     family): terms are processed rarest-first with exact partial
     scores; once the summed upper bound (idf·max_tf_norm) of the
     remaining lists falls below the running kth score, those lists are
     only consulted for candidate docs, and only the blocks whose
     [first_doc, last_doc] range intersects a candidate are decoded;
  6. survivors are re-scored exactly in canonical term order (so engine
     scores are bit-compatible with the single-node oracle), then
     merged globally per query by (score DESC, doc_id ASC) — the
     reference's deterministic tie-break
     (/root/reference/streamlit_app.py:362).

Filtered search (reference R3 — every sidebar predicate applied INSIDE
the ranked query, /root/reference/streamlit_app.py:276-282) has two
pushdown paths, both applied before any scoring:

  - **filter terms**: metadata predicates indexed at build time as
    posting lists (`lang=en`, `source=src1`, … — build_index
    `filter_terms` column). A conjunctive filter is a list of required
    groups; each group is a single term or an OR-list of terms. The
    scorer decodes the filter lists first (heavy filter lists are
    salted and segment-routed like any stopword), intersects the
    groups into an allowed-doc set, and scores only inside it — the
    inverted-index analog of WHERE-before-ORDER-BY. This is the
    100 TB path: no doc-table scan, no driver-side doc set.
  - **allowed_docs**: an explicit doc_id set (from any ad-hoc
    predicate over the docs table), broadcast to the scorer. Exact for
    arbitrary predicates; intended for selective filters (the set is
    materialized), not for "half the corpus".

Both prune at the block level too: blocks whose [first_doc, last_doc]
range contains no allowed doc are never decoded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from theoremsearch_spark import codec
from theoremsearch_spark.build import SERVE_POSTINGS_SCHEMA, TERM_STATS_SCHEMA
from theoremsearch_spark.extract import tokenize

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_GROUP_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_EMPTY_GROUP = pd.DataFrame({"query_id": pd.Series(dtype="int32"),
                             "doc_id": pd.Series(dtype="int64"),
                             "score": pd.Series(dtype="float64")})


def idf(n_docs: int, df: np.ndarray) -> np.ndarray:
    """Lucene-style BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)).

    Always positive — required for block upper bounds to be sound."""
    df = np.asarray(df, dtype=np.float64)
    return np.log1p((n_docs - df + 0.5) / (df + 0.5))


_E3 = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))
_E2 = (np.empty(0, np.int64), np.empty(0, np.float64))


def local_frame(
    spark: SparkSession, schema: T.StructType, pdf: pd.DataFrame | None = None
) -> DataFrame:
    """Driver-side rows as a JVM LocalRelation: the columns cross once
    as an Arrow table and Spark plans a LocalTableScan, with no job and
    no Python worker. `spark.createDataFrame` on a Python list (and on
    an EMPTY pandas frame, which skips the Arrow path) goes through
    `sc.parallelize` instead; running that plan re-pickles the rows in
    Python workers forked per default-parallelism slice, a fixed CPU
    cost per request that no result size justifies.
    `pdf` supplies the schema's columns by name; None = no rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    if pdf is None:
        table = arrow_schema.empty_table()
    else:
        table = pa.Table.from_pandas(
            pdf[schema.fieldNames()], schema=arrow_schema, preserve_index=False
        )
    return spark.createDataFrame(table, schema=schema)


def serve_postings(spark: SparkSession, *paths: str) -> DataFrame:
    """Posting blocks under `paths`, read with the declared serve schema:
    no footer-inference job, and the build-lineage columns never reach
    the scorer. The bucket=N dirs are read as plain files (serving
    filters on term_id, pushed to row-group stats, never on bucket; and
    multi-root partition discovery would reject several postings roots)."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema(SERVE_POSTINGS_SCHEMA)
        .parquet(*paths)
    )


class _Cols:
    """One (query, segment) group's fan rows as plain numpy/array
    columns, sorted by (term_id, segment, block_id). Built from the
    group's column arrays (slices of one Arrow batch's conversion), so
    no pandas machinery runs per group — per-group pandas
    groupby/sort/getitem measured ~3× the actual decode+score cost."""

    __slots__ = (
        "term_id", "segment", "block_id", "df", "first_doc", "last_doc",
        "n_docs", "max_norm", "doc_bytes", "tf_bytes", "dl_bytes",
        "is_filter", "fgroup", "is_not", "id2term",
    )

    def __init__(self, cols: dict[str, np.ndarray]):
        term_id = np.asarray(cols["term_id"], np.int64)
        segment = np.asarray(cols["segment"], np.int64)
        block_id = np.asarray(cols["block_id"], np.int64)
        o = np.lexsort((block_id, segment, term_id))
        self.term_id = term_id[o]
        self.segment = segment[o]
        self.block_id = block_id[o]
        self.df = np.asarray(cols["df"], np.int64)[o]
        self.first_doc = np.asarray(cols["first_doc"], np.int64)[o]
        self.last_doc = np.asarray(cols["last_doc"], np.int64)[o]
        self.n_docs = np.asarray(cols["n_docs"], np.int64)[o]
        self.max_norm = np.asarray(cols["max_tf_norm"], np.float64)[o]
        self.doc_bytes = cols["doc_bytes"][o]
        self.tf_bytes = cols["tf_bytes"][o]
        self.dl_bytes = cols["dl_bytes"][o]
        if "is_filter" in cols:
            self.is_filter = np.asarray(cols["is_filter"], bool)[o]
            self.fgroup = np.asarray(cols["fgroup"], np.int64)[o]
        else:
            self.is_filter = np.zeros(o.size, dtype=bool)
            self.fgroup = np.full(o.size, -1, dtype=np.int64)
        if "is_not" in cols:
            self.is_not = np.asarray(cols["is_not"], bool)[o]
        else:
            self.is_not = np.zeros(o.size, dtype=bool)
        self.id2term = dict(zip(term_id, cols["term"]))


class _ColSlice:
    """Index view over _Cols rows for one term's (already ordered)
    blocks."""

    __slots__ = ("c", "idx")

    def __init__(self, c: _Cols, idx: np.ndarray):
        self.c, self.idx = c, idx


def _decode_run(
    g: _ColSlice,
    *,
    q_segs: int,
    seg: int,
    restrict: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one term's posting blocks (already sorted by segment,
    block_id) into (doc_ids ascending, tfs, doc_lens) — one varbyte
    decode call per byte stream, no per-block Python.

    `restrict`: sorted doc_id array; blocks with no overlap are skipped
    before decode, and postings outside it are dropped after.
    `q_segs`/`seg`: when the query is segment-sharded, keep only docs of
    this task's residue (heavy lists arrive pre-routed; light lists are
    replicated and narrowed here)."""
    c, idx = g.c, g.idx
    if restrict is not None:
        if restrict.size == 0:
            return _E3
        first = c.first_doc[idx]
        last = c.last_doc[idx]
        lo = np.searchsorted(restrict, first, side="left")
        hit = (lo < restrict.size) & (restrict[np.minimum(lo, restrict.size - 1)] <= last)
        idx = idx[hit]
    if not idx.size:
        return _E3
    nblk = c.n_docs[idx]
    gaps = codec.varbyte_decode(b"".join(c.doc_bytes[idx])).astype(np.int64)
    tf = codec.varbyte_decode(b"".join(c.tf_bytes[idx])).astype(np.int64)
    dl = codec.varbyte_decode(b"".join(c.dl_bytes[idx])).astype(np.int64)
    # per-block cumsum: block-initial gap is the absolute doc_id, so
    # absolute = global_cumsum - (global_cumsum just before the block)
    cs = np.cumsum(gaps)
    ends = np.cumsum(nblk)
    before = np.concatenate(([0], cs[ends[:-1] - 1]))
    di = cs - np.repeat(before, nblk)
    if not np.all(di[:-1] < di[1:]):  # multiple segments → merge by doc
        o = np.argsort(di, kind="stable")
        di, tf, dl = di[o], tf[o], dl[o]
    if q_segs > 1:
        m = (di % q_segs) == seg
        di, tf, dl = di[m], tf[m], dl[m]
    if restrict is not None:
        pos = np.searchsorted(restrict, di)
        ok = (pos < restrict.size) & (restrict[np.minimum(pos, restrict.size - 1)] == di)
        di, tf, dl = di[ok], tf[ok], dl[ok]
    return di, tf, dl


def _score_group(
    pdf: pd.DataFrame,
    *,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    allowed_global: np.ndarray | None = None,
    excluded_global: np.ndarray | None = None,
    mode: str = "or",
) -> pd.DataFrame:
    """Score one (query, segment) group's posting blocks; returns this
    segment's exact top-k as (query_id, doc_id, score) rows.

    `excluded_global` (sorted unique doc_ids) is the tombstone mask for
    upsert/replace serving: postings of superseded document versions
    are dropped right after decode, before they can enter filter sets,
    partial scores, or candidates. Masking only ever REMOVES docs, so
    every block-max / suffix upper bound stays sound.

    `mode="and"` serves the CONJUNCTIVE query: only docs containing
    EVERY scoring term qualify. Evaluation is the classic rarest-first
    intersection — each subsequent term's blocks are decoded with
    `restrict=` the current candidate set, so block-range pruning
    shrinks the work per term instead of MaxScore's threshold pruning
    (which doesn't apply: the AND set needs no score threshold to be
    exact). A query term missing from the index (or from this doc
    segment) makes the conjunction empty — `n_req` in the fan frame
    carries the query's pre-merge distinct-token count so the scorer
    can tell "term unindexed" from "term elsewhere". With `k <= 0` the
    full AND candidate set is returned (the phrase-verification pool).

    Rows flagged `is_not` are MUST-NOT terms (either mode): their
    postings are decoded up front (restricted to the allowed set) and
    folded into the excluded mask, so matching docs never enter filter
    sets, partial scores, or candidates.

    pdf columns: query_id, serve_seg, q_segs, n_fgroups, term, df,
    is_filter, fgroup, segment, block_id, first_doc, last_doc, n_docs,
    max_tf_norm, doc_bytes, tf_bytes, dl_bytes.
    """
    if pdf.empty:
        return _EMPTY_GROUP
    ids, sc = _score_cols(
        {c: pdf[c].to_numpy() for c in pdf.columns},
        n_docs=n_docs, avgdl=avgdl, k1=k1, b=b, k=k,
        allowed_global=allowed_global, excluded_global=excluded_global,
        mode=mode,
    )
    if not ids.size:
        return _EMPTY_GROUP
    return pd.DataFrame(
        {"query_id": int(pdf["query_id"].iloc[0]), "doc_id": ids, "score": sc}
    )


def _score_cols(
    cols: dict[str, np.ndarray],
    *,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    allowed_global: np.ndarray | None = None,
    excluded_global: np.ndarray | None = None,
    mode: str = "or",
) -> tuple[np.ndarray, np.ndarray]:
    """`_score_group` over one group's column arrays: returns the
    segment's top-k as (doc_ids, scores), ordered by (score DESC,
    doc_id ASC)."""
    q_segs = int(cols["q_segs"][0]) if "q_segs" in cols else 1
    seg = int(cols["serve_seg"][0]) if "serve_seg" in cols else 0
    n_fgroups = int(cols["n_fgroups"][0]) if "n_fgroups" in cols else 0

    c = _Cols(cols)

    def term_slices(mask: np.ndarray) -> list[tuple[int, np.ndarray]]:
        """[(term_id, row idx array)] for rows under `mask`, grouped by
        term_id (rows already lexsorted by term_id)."""
        idx = np.flatnonzero(mask)
        if not idx.size:
            return []
        tids = c.term_id[idx]
        starts = np.flatnonzero(np.concatenate(([True], tids[1:] != tids[:-1])))
        bounds = np.append(starts, tids.size)
        return [
            (int(tids[starts[j]]), idx[bounds[j] : bounds[j + 1]])
            for j in range(starts.size)
        ]

    # ---- resolve the allowed-doc set: broadcast set ∩ filter groups ----
    allowed = None
    if allowed_global is not None:
        allowed = np.asarray(allowed_global, dtype=np.int64)
        if q_segs > 1:
            allowed = allowed[(allowed % q_segs) == seg]

    excluded = None
    if excluded_global is not None and excluded_global.size:
        excluded = np.asarray(excluded_global, dtype=np.int64)
        if q_segs > 1:
            excluded = excluded[(excluded % q_segs) == seg]
        if excluded.size == 0:
            excluded = None

    def drop_dead(run: tuple) -> tuple:
        """Mask tombstoned doc_ids out of one decoded (di, tf, dl) run."""
        if excluded is None:
            return run
        di, tf, dl = run
        if di.size == 0:
            return run
        pos = np.searchsorted(excluded, di)
        hit = (pos < excluded.size) & (
            excluded[np.minimum(pos, excluded.size - 1)] == di
        )
        if not hit.any():
            return run
        keep = ~hit
        return di[keep], tf[keep], dl[keep]
    if n_fgroups:
        fg_present = np.unique(c.fgroup[c.is_filter])
        if fg_present.size < n_fgroups:
            # a required group has no postings in this segment → empty
            return _E2
        for fg in fg_present:
            g_ids: np.ndarray | None = None
            for _, tidx in term_slices(c.is_filter & (c.fgroup == fg)):
                di, _, _ = drop_dead(_decode_run(
                    _ColSlice(c, tidx), q_segs=q_segs, seg=seg, restrict=None
                ))
                g_ids = di if g_ids is None else np.union1d(g_ids, di)
            if g_ids is None or g_ids.size == 0:
                return _E2
            allowed = g_ids if allowed is None else np.intersect1d(
                allowed, g_ids, assume_unique=True
            )
            if allowed.size == 0:
                return _E2

    # ---- must-not terms: fold their postings into the excluded mask ----
    if c.is_not.any():
        not_ids: list[np.ndarray] = []
        for _, tidx in term_slices(c.is_not):
            di, _, _ = _decode_run(
                _ColSlice(c, tidx), q_segs=q_segs, seg=seg, restrict=allowed
            )
            if di.size:
                not_ids.append(di)
        if not_ids:
            merged_not = not_ids[0] if len(not_ids) == 1 else np.unique(
                np.concatenate(not_ids)
            )
            excluded = merged_not if excluded is None else np.union1d(
                excluded, merged_not
            )  # drop_dead reads the rebound name — all later decodes mask

    score_terms = term_slices(~c.is_filter & ~c.is_not)
    if not score_terms:
        return _E2

    # per-term metadata (a term's segments all share df/idf), processed
    # rarest-first (cheapest exact scoring first → early threshold);
    # ties broken by term STRING for run-to-run determinism
    t_df = np.array([c.df[tidx[0]] for _, tidx in score_terms], dtype=np.int64)
    t_idf_arr = idf(n_docs, t_df)
    t_ub = t_idf_arr * np.array(
        [c.max_norm[tidx].max() for _, tidx in score_terms]
    )
    t_str = [c.id2term[tid] for tid, _ in score_terms]
    order = sorted(range(len(score_terms)), key=lambda j: (t_df[j], t_str[j]))

    decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    term_idf = dict(zip(t_str, t_idf_arr))

    def tf_norm(tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    if mode == "and":
        # conjunctive: a query token that never made it into the fan
        # (unindexed) empties the result; one that is indexed but has no
        # postings in this doc segment empties THIS segment (correct —
        # no doc of this residue contains it). Rarest-first intersection
        # with restrict-pushdown: term i+1's blocks outside the current
        # candidate range are never decoded.
        n_req = int(cols["n_req"][0]) if "n_req" in cols else 0
        if len(score_terms) < n_req:
            return _E2
        cand: np.ndarray | None = allowed
        for j in order:
            di, tf, dl = drop_dead(_decode_run(
                _ColSlice(c, score_terms[j][1]), q_segs=q_segs, seg=seg,
                restrict=cand,
            ))
            if di.size == 0:
                return _E2
            decoded[t_str[j]] = (di, tf, dl)
            cand = di  # restrict guarantees di ⊆ previous candidates
        cand_sorted = cand
        return _exact_rescore(cand_sorted, decoded, term_idf, tf_norm, k)

    # phase 1: exact partial scoring, rarest-first, with suffix-UB cutoff
    # (vectorized sorted-merge accumulation — no per-posting Python)
    ubs = t_ub[order]
    suffix_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])
    ids_acc = np.empty(0, dtype=np.int64)
    sc_acc = np.empty(0, dtype=np.float64)
    threshold = -np.inf
    stop_at = len(order)
    for i, j in enumerate(order):
        if ids_acc.size >= k and suffix_ub[i] < threshold:
            stop_at = i
            break
        di, tf, dl = drop_dead(_decode_run(
            _ColSlice(c, score_terms[j][1]), q_segs=q_segs, seg=seg, restrict=allowed
        ))
        decoded[t_str[j]] = (di, tf, dl)
        contrib = t_idf_arr[j] * tf_norm(tf, dl)
        if ids_acc.size == 0:
            ids_acc, sc_acc = di.copy(), contrib.astype(np.float64)
        else:
            merged = np.union1d(ids_acc, di)
            ms = np.zeros(merged.size, dtype=np.float64)
            ms[np.searchsorted(merged, ids_acc)] += sc_acc
            ms[np.searchsorted(merged, di)] += contrib
            ids_acc, sc_acc = merged, ms
        if ids_acc.size >= k:
            threshold = float(np.partition(sc_acc, -k)[-k])

    # phase 2: candidates = docs whose partial + remaining UB could reach top-k
    remaining = order[stop_at:]
    cand_ids, cand_partial = ids_acc, sc_acc
    if remaining and cand_ids.size:
        rem_ub = float(ubs[stop_at:].sum())
        keep = cand_partial + rem_ub >= threshold
        cand_ids = cand_ids[keep]
    cand_sorted = cand_ids  # already sorted (union1d invariant)

    # decode remaining (long) lists only at blocks where candidates live
    for j in remaining:
        decoded[t_str[j]] = drop_dead(_decode_run(
            _ColSlice(c, score_terms[j][1]), q_segs=q_segs, seg=seg, restrict=cand_sorted
        ))

    return _exact_rescore(cand_sorted, decoded, term_idf, tf_norm, k)


def _exact_rescore(
    cand_sorted: np.ndarray,
    decoded: dict,
    term_idf: dict,
    tf_norm,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact re-score of candidates in canonical (lexicographic) term
    order — bitwise-reproducible vs the single-node oracle — then top-k
    by (score DESC, doc_id ASC). `k <= 0` keeps every scored candidate
    (the conjunctive phrase-verification pool)."""
    final = np.zeros(cand_sorted.size, dtype=np.float64)
    for term in sorted(decoded):
        di, tf, dl = decoded[term]
        if di.size == 0 or cand_sorted.size == 0:
            continue
        t_idf = float(term_idf[term])
        pos = np.searchsorted(cand_sorted, di)
        ok = (pos < cand_sorted.size) & (cand_sorted[np.minimum(pos, cand_sorted.size - 1)] == di)
        contrib = t_idf * tf_norm(tf[ok], dl[ok])
        np.add.at(final, pos[ok], contrib)

    nz = final > 0
    ids, sc = cand_sorted[nz], final[nz]
    take = ids.size if k <= 0 else min(k, ids.size)
    # top-k by (score DESC, doc_id ASC); ids ascending → stable mergesort
    o = np.argsort(-sc, kind="stable")[:take]
    return ids[o], sc[o]


def _score_fan(
    fan: DataFrame,
    *,
    allowed_bc=None,
    excluded_bc=None,
    **score_kw,
) -> DataFrame:
    """The scoring stage: fan rows (see `_fan`) → every (query, segment)
    group's exact top-k as (query_id, doc_id, score) rows, scored by
    `_score_group`'s kernel with `score_kw` (n_docs, avgdl, k1, b, k,
    mode). `allowed_bc` / `excluded_bc` are the broadcast allowed set
    and tombstone mask (a sorted id array or a `codec.PackedDocIdSet`).

    The rows are hash-partitioned by (query_id, serve_seg) and sorted by
    it within each partition, so every group arrives contiguous in one
    task: AQE may coalesce those partitions but never splits a key. The
    Python side converts each Arrow batch to numpy once, cuts groups at
    key changes and emits one frame per batch (`_scored_batches`). A
    grouped `applyInPandas` over the same exchange and sort would pay a
    pandas↔Arrow round trip per group, measured at about 6 ms of worker
    CPU a group on 4 cores."""

    def run(batches):
        allowed = None if allowed_bc is None else allowed_bc.value
        excl = None if excluded_bc is None else excluded_bc.value
        if isinstance(excl, codec.PackedDocIdSet):
            excl = excl.decode()  # once per worker process (memoized)

        def score(cols):
            return _score_cols(
                cols, allowed_global=allowed, excluded_global=excl, **score_kw
            )

        return _scored_batches(batches, score)

    return (
        fan.repartition("query_id", "serve_seg")
        .sortWithinPartitions("query_id", "serve_seg")
        .mapInPandas(run, schema=_GROUP_SCHEMA)
    )


def _scored_batches(batches, score):
    """Yield one (query_id, doc_id, score) frame per pandas batch of a
    stream clustered by (query_id, serve_seg). `score(cols)` runs once
    per group on the group's column arrays (slices of the batch's one
    pandas→numpy conversion) and returns (doc_ids, scores). The group
    still open at a batch's end may continue in the next batch, so it
    is carried over and scored once its key changes or the stream
    ends."""
    open_parts: list[dict] = []  # pieces of the group open at the last batch end
    open_key = None
    for pdf in batches:
        if pdf.empty:
            continue
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        q, s = cols["query_id"], cols["serve_seg"]
        cuts = np.flatnonzero((q[1:] != q[:-1]) | (s[1:] != s[:-1])) + 1
        bounds = [0, *cuts, q.size]
        hits = []
        if open_parts and open_key != (q[0], s[0]):  # it ended with the last batch
            hits.append(_scored(score, open_parts))
            open_parts = []
        for lo, hi in zip(bounds[:-2], bounds[1:-1]):
            piece = {c: a[lo:hi] for c, a in cols.items()}
            hits.append(_scored(score, [*open_parts, piece]))
            open_parts = []
        open_parts.append({c: a[bounds[-2]:] for c, a in cols.items()})
        open_key = (q[-1], s[-1])
        if hits:
            yield _hits_frame(hits)
    if open_parts:
        yield _hits_frame([_scored(score, open_parts)])


def _scored(score, parts: list[dict]) -> tuple:
    """(query_ids, doc_ids, scores) of one group given as column pieces."""
    cols = parts[0] if len(parts) == 1 else {
        c: np.concatenate([p[c] for p in parts]) for c in parts[0]
    }
    ids, sc = score(cols)
    return np.full(ids.size, cols["query_id"][0], np.int32), ids, sc


def _hits_frame(hits: list[tuple]) -> pd.DataFrame:
    qid, doc, sc = (np.concatenate(x) for x in zip(*hits))
    return pd.DataFrame({"query_id": qid, "doc_id": doc, "score": sc})


def load_index_meta(spark: SparkSession, index_dir: str) -> dict:
    from theoremsearch_spark.stats import read_doc_stats_row

    keys = ("n_docs", "avgdl", "k1", "b", "n_segments", "salt_threshold")
    row = read_doc_stats_row(f"{index_dir}/doc_stats")
    if row is None:  # non-local path — fall back to a Spark read
        srow = spark.read.parquet(f"{index_dir}/doc_stats").collect()[0]
        return {k: srow[k] for k in keys if k in srow.__fields__}
    return {k: row[k] for k in keys if k in row}


def _normalize_filters(filters) -> list[list[str]]:
    """filters: list of conjunctive groups; each group a term (AND) or a
    list of terms (OR-of-terms within the group)."""
    out = []
    for g in filters or []:
        out.append([g] if isinstance(g, str) else list(g))
    return out


def _build_qterms(
    queries: pd.DataFrame,
    tstats: pd.DataFrame,
    fgroups: list[list[str]],
    salt_threshold: int,
    n_segments: int,
    not_terms: list[str] | None = None,
) -> pd.DataFrame | None:
    """(query_id, term, term_id, df, is_filter, fgroup, is_not, n_req,
    q_segs, n_fgroups) — the broadcast fan side. Returns None when a
    required filter group has no indexed term (conjunction
    unsatisfiable). `not_terms` are batch-global MUST-NOT terms — rows
    flagged is_not; an unindexed must-not term excludes nothing, so it
    drops out at the tstats merge. `n_req` is the query's pre-merge
    distinct scoring-token count (conjunctive serving needs it to tell
    unindexed-term-in-query apart from indexed-but-elsewhere)."""
    qt = queries.assign(terms=queries["query_text"].map(lambda s: sorted(set(tokenize(s)))))
    nreq_map = dict(zip(qt["query_id"], qt["terms"].map(len)))
    pairs = qt[["query_id", "terms"]].explode("terms").dropna()
    pairs = pairs.rename(columns={"terms": "term"})
    pairs["is_filter"] = False
    pairs["fgroup"] = -1
    pairs["is_not"] = False

    if fgroups:
        frows = pd.DataFrame(
            [(gi, t) for gi, g in enumerate(fgroups) for t in g],
            columns=["fgroup", "term"],
        )
        indexed = frows.merge(tstats[["term"]], on="term")
        missing = set(range(len(fgroups))) - set(indexed["fgroup"].unique())
        if missing:
            return None  # an AND-group matches nothing in the index
        qids = pd.DataFrame({"query_id": queries["query_id"].unique()})
        f = frows.merge(qids, how="cross")
        f["is_filter"] = True
        f["is_not"] = False
        pairs = pd.concat(
            [pairs, f[["query_id", "term", "is_filter", "fgroup", "is_not"]]],
            ignore_index=True,
        )

    if not_terms:
        nrows = pd.DataFrame({"term": sorted(set(not_terms))})
        qids = pd.DataFrame({"query_id": queries["query_id"].unique()})
        nr = nrows.merge(qids, how="cross")
        nr["is_filter"] = False
        nr["fgroup"] = -1
        nr["is_not"] = True
        pairs = pd.concat(
            [pairs, nr[["query_id", "term", "is_filter", "fgroup", "is_not"]]],
            ignore_index=True,
        )

    qterm = pairs.merge(tstats, on="term")  # drops unindexed scoring terms
    if qterm.empty:
        return None
    if "any_salted" in qterm.columns:
        # multi-generation serving: saltedness was decided per generation
        # at ITS build threshold — the merged flag, not the merged df,
        # says whether sharded routing is needed
        heavy = qterm.groupby("query_id")["any_salted"].max().astype(bool)
    else:
        heavy = qterm.groupby("query_id")["df"].max() > salt_threshold
    q_segs = heavy.map(lambda h: n_segments if h else 1).rename("q_segs")
    qterm = qterm.merge(q_segs.reset_index(), on="query_id")
    qterm["n_fgroups"] = len(fgroups)
    qterm["n_req"] = qterm["query_id"].map(nreq_map).fillna(0).astype(int)
    return qterm


def _fan(spark: SparkSession, blocks: DataFrame, qterm: pd.DataFrame, salt_threshold: int) -> DataFrame:
    """Blocks × queries with segment routing: a heavy term's segment-s
    blocks go to exactly task (q, s) — never replicated; light blocks
    (bounded bytes by the salt threshold) replicate to the query's S
    tasks; single-task queries route everything to (q, 0)."""
    qterm_df = spark.createDataFrame(
        qterm[["query_id", "term", "term_id", "df", "is_filter", "fgroup",
               "is_not", "n_req", "q_segs", "n_fgroups"]]
    )
    fan = blocks.join(F.broadcast(qterm_df), "term_id")
    # a SALTED list's segment-s blocks route to exactly task (q, s);
    # unsalted (light) lists replicate to the query's S tasks and are
    # narrowed to the task's doc residue inside the scorer. Saltedness
    # is block-level when the blocks carry it (multi-generation union —
    # the same term can be salted in one generation and flat in
    # another), else the single-index df-vs-threshold rule.
    salted = (
        F.col("is_salted")
        if "is_salted" in blocks.columns
        else F.col("df") > F.lit(int(salt_threshold))
    )
    return fan.withColumn(
        "serve_seg",
        F.explode(
            F.when(F.col("q_segs") == 1, F.array(F.lit(0)))
            .when(salted, F.array(F.col("segment")))
            .otherwise(F.sequence(F.lit(0), F.col("q_segs") - 1))
        ),
    )


def topk_frames(
    spark: SparkSession,
    blocks: DataFrame,
    tstats: pd.DataFrame,
    queries: pd.DataFrame,
    *,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int = 10,
    filters=None,
    allowed_docs=None,
    excluded_docs=None,
    salt_threshold: int | None = None,
    n_segments: int = 1,
    mode: str = "or",
    not_terms: list[str] | None = None,
    rank: bool = True,
) -> DataFrame:
    """Batch top-k over explicit frames: `blocks` = posting blocks
    (possibly a union of index generations), `tstats` = pandas term
    dictionary (term, term_id, df) already merged across generations.

    `rank=False` (k <= 0 only) returns the UNRANKED candidate pool
    (query_id, doc_id, score) — no global window: the k=0 conjunctive
    pool exists to feed phrase verification / facet counting, both of
    which re-rank (or never rank) downstream, so the row_number
    exchange+sort over the full AND set is pure waste there. Segments
    are doc-disjoint, so the un-windowed union of per-segment rows IS
    the exact candidate set.

    `mode="and"`: conjunctive serving — only docs containing every
    scoring term qualify (rarest-first intersection in the scorer,
    restrict-pushdown decode). With `k <= 0` every conjunctive
    candidate is returned, ranked — the phrase-verification pool
    (k <= 0 is rejected for mode="or": the disjunctive candidate set is
    corpus-sized for any common term). `not_terms`: batch-global
    MUST-NOT terms — docs containing any of them are excluded before
    scoring, both modes.

    `excluded_docs`: doc_ids of tombstoned (superseded) document
    versions — an id iterable or a `codec.PackedDocIdSet` (compressed
    executor-built artifact) — dropped at decode time inside the
    scorer. Callers are
    responsible for passing CORRECTED global stats (n_docs, avgdl, and
    per-term df in `tstats`) that exclude these docs; that is what
    makes upsert serving score-identical to a from-scratch build over
    the latest versions (topk_all_generations does this).

    With `n_segments > 1` + `salt_threshold`, heavy-term queries are
    segment-sharded (see module docstring); the per-query group shuffle
    then moves O(segments·k) result rows, never whole posting lists."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if k <= 0 and mode != "and":
        raise ValueError("k <= 0 (full candidate set) requires mode='and'")
    if not rank and k > 0:
        raise ValueError("rank=False is the k <= 0 candidate-pool shape")
    fgroups = _normalize_filters(filters)
    if salt_threshold is None:
        salt_threshold = 2**62  # nothing is heavy → single-task queries
    qterm = _build_qterms(
        queries, tstats, fgroups, salt_threshold, n_segments, not_terms=not_terms
    )
    if qterm is None:
        return local_frame(spark, _GROUP_SCHEMA if not rank else TOPK_SCHEMA)
    ids = [int(x) for x in qterm["term_id"].unique()]

    allowed_bc = None
    if allowed_docs is not None:
        arr = np.unique(np.asarray(list(allowed_docs), dtype=np.int64))
        if arr.size == 0:
            return local_frame(spark, _GROUP_SCHEMA if not rank else TOPK_SCHEMA)
        allowed_bc = spark.sparkContext.broadcast(arr)

    excluded_bc = None
    if excluded_docs is not None:
        from pyspark.broadcast import Broadcast

        if isinstance(excluded_docs, Broadcast):
            # pre-broadcast artifact: a chunked caller (topk_all_
            # generations max_batch) broadcasts the tombstone mask ONCE
            # and passes the handle to every chunk — re-broadcasting a
            # shared artifact per chunk would accumulate driver+executor
            # copies linearly with the chunk count
            excluded_bc = excluded_docs
        elif isinstance(excluded_docs, codec.PackedDocIdSet):
            # compressed executor-built artifact (topk_all_generations):
            # broadcast the ~1.2 B/id chunks; workers decode once per
            # executor process (memoized on the broadcast-cached object)
            if excluded_docs.n:
                excluded_bc = spark.sparkContext.broadcast(excluded_docs)
        else:
            # ad-hoc id iterable: sorted-unique array, scorer masks via
            # searchsorted. Bounded by upsert churn since the last
            # compaction — heavy churn should compact, not grow this.
            xarr = np.unique(np.asarray(list(excluded_docs), dtype=np.int64))
            if xarr.size:
                excluded_bc = spark.sparkContext.broadcast(xarr)

    # posting scan touches only the queried term_ids — an int64 IN-filter
    # pushed into the parquet row-group stats
    blocks = blocks.filter(F.col("term_id").isin(ids))
    fan = _fan(spark, blocks, qterm, salt_threshold)

    part = _score_fan(
        fan, n_docs=n_docs, avgdl=avgdl, k1=k1, b=b, k=k, mode=mode,
        allowed_bc=allowed_bc, excluded_bc=excluded_bc,
    )
    if not rank:
        return part  # exact candidate pool — no global window (see docstring)
    # global merge: ≤ S·k tiny rows per query (TakeOrdered-shaped window);
    # k <= 0 (conjunctive pool) ranks but keeps every candidate
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = part.withColumn("rank", F.row_number().over(w))
    if k > 0:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("query_id", "rank", "doc_id", "score")


def topk(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    filters=None,
    allowed_docs=None,
    excluded_docs=None,
    k1: float | None = None,
    b: float | None = None,
    mode: str = "or",
    not_terms: list[str] | None = None,
    rank: bool = True,
) -> DataFrame:
    """Batch top-k: queries pandas(query_id, query_text) → Spark DF of
    (query_id, rank, doc_id, score). `rank=False` (k <= 0 pools only)
    skips the global rank window — see topk_frames.

    `mode="and"`: conjunctive serving — only docs containing EVERY
    query term qualify (still BM25-scored and ranked). `not_terms`:
    batch-global must-not terms, docs containing any are excluded
    before scoring (see topk_frames).

    `filters`: conjunctive filter groups over build-time `filter_terms`
    posting lists (each group a term or an OR-list) — reference R3.
    `allowed_docs`: explicit doc_id whitelist (broadcast), for ad-hoc
    predicates; combine freely with `filters`.
    `excluded_docs`: doc_id blacklist (tombstones) — NOTE: stats are
    NOT corrected here (single-index ad-hoc exclusion), so scores
    differ from a rebuild over the survivors; a one-time warning is
    emitted. For exact upsert semantics use topk_all_generations,
    which corrects N/avgdl/df from the tombstone rows.

    k1/b overrides that differ from the index's build-time values are
    rejected: stored per-block `max_tf_norm` upper bounds are computed
    with the build parameters, and pruning with foreign k1/b could
    silently drop true top-k members."""
    if excluded_docs is not None:
        import warnings

        warnings.warn(
            "topk(excluded_docs=...) excludes docs WITHOUT correcting "
            "N/avgdl/df — scores will differ from a rebuild over the "
            "survivors; use topk_all_generations for exact upsert/delete "
            "semantics",
            stacklevel=2,
        )
    prep = _serve_prep(
        spark, index_dir, queries, filters=filters, not_terms=not_terms,
        k1=k1, b=b,
    )
    return topk_frames(
        spark, prep["blocks"], prep["tstats"], queries,
        k=k, filters=filters, allowed_docs=allowed_docs,
        excluded_docs=excluded_docs, mode=mode, not_terms=not_terms,
        rank=rank, **prep["frame_kwargs"],
    )


def _serve_prep(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    *,
    filters=None,
    not_terms: list[str] | None = None,
    k1: float | None = None,
    b: float | None = None,
) -> dict:
    """Per-index serving state, loaded ONCE per batch: doc_stats
    metadata and the term-dictionary rows for every term the batch (and
    its filters / must-nots) touches, plus the lazy postings frame.

    The doc_stats metadata is a driver-side pyarrow read (zero Spark
    jobs) and both tables are read with their declared schemas (no
    footer-inference job), so prep costs exactly ONE job — the
    term-dictionary scan.
    Chunked serving (`topk_batched`) calls this once for the WHOLE
    batch and reuses the result for every chunk, so serve prep is O(1)
    in the chunk count — the same serve-prep-runs-once discipline
    topk_all_generations and ann_ivf_search_batched already follow."""
    all_terms = sorted({t for q in queries["query_text"] for t in tokenize(q)})
    for g in _normalize_filters(filters):
        all_terms.extend(g)
    all_terms.extend(not_terms or [])

    meta = load_index_meta(spark, index_dir)
    tstats = (
        spark.read.schema(TERM_STATS_SCHEMA)
        .parquet(f"{index_dir}/term_stats")
        .filter(F.col("term").isin(all_terms))
        .toPandas()
    )
    if k1 is not None and abs(float(k1) - float(meta["k1"])) > 1e-12:
        raise ValueError(
            f"k1={k1} differs from index build k1={meta['k1']}; "
            "block-max pruning bounds would be unsound — rebuild the index"
        )
    if b is not None and abs(float(b) - float(meta["b"])) > 1e-12:
        raise ValueError(
            f"b={b} differs from index build b={meta['b']}; "
            "block-max pruning bounds would be unsound — rebuild the index"
        )
    return {
        "tstats": tstats,
        "blocks": serve_postings(spark, f"{index_dir}/postings"),
        "frame_kwargs": dict(
            n_docs=int(meta["n_docs"]),
            avgdl=float(meta["avgdl"]),
            k1=float(meta["k1"]),
            b=float(meta["b"]),
            n_segments=int(meta.get("n_segments", 1) or 1),
            salt_threshold=meta.get("salt_threshold"),
        ),
    }


def topk_batched(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    max_batch: int = 0,
    chunk_times: list | None = None,
    max_inflight: int = 2,
    **topk_kwargs,
) -> DataFrame:
    """Serve a large query batch in bounded chunks of `max_batch`
    queries — one scoring job per chunk, chunk results (k rows/query,
    tiny) concatenated into one local-relation DataFrame. `max_batch=0`
    = unchunked (plain topk).

    `chunk_times`: optional list that receives each chunk's measured
    wall seconds (bench.py derives the REAL serving-latency p50/p95
    from these instead of estimating from total wall / Q).

    Each chunk is one `topk_frames` plan: a scoring stage with one
    Python task per non-empty fan partition, each scoring its groups
    batch by batch (`_score_fan`), so a chunk's Python cost is its
    groups' scoring plus a fixed cost per task, not per group.

    Why this exists: the scorer's fan working set (posting blocks ×
    queries) grows linearly with the batch while per-core heap is
    fixed, so on a PACKED executor the wide side of a cluster degrades
    first — measured on the pinned 1→4-core protocol: N→4N serving
    efficiency 0.805 at 292 queries vs 0.703 at 584
    (BENCH/BASELINE.md round 4). Chunking bounds the co-resident
    working set; chunks are independent jobs with no cross-chunk state,
    so stragglers and retries are contained per chunk. Results are
    bitwise identical to one big batch: scoring is per-query, global
    stats are batch-independent.

    Serve prep (doc_stats metadata + the batch's term-dictionary rows)
    runs ONCE for the whole batch, not once per chunk: the prep is
    chunk-independent by construction (the term set is the union over
    all queries; a chunk's _build_qterms merge simply ignores the other
    chunks' rows), so only the scoring job repeats.

    `max_inflight` chunk jobs run concurrently (guide §2.6 — Spark's
    scheduler happily overlaps jobs; the next chunk's tasks back-fill
    executors freed by the current chunk's straggler tail). The
    co-resident working set stays bounded by max_inflight·chunk —
    still the point of chunking — and results are byte-identical (the
    chunks are independent and re-assembled in order). `chunk_times`
    walls are measured per chunk under that concurrency — the realistic
    serving-latency figure for a server that admits 2 batches at once."""
    if not max_batch or len(queries) <= max_batch:
        return topk(spark, index_dir, queries, k=k, **topk_kwargs)
    import time
    from concurrent.futures import ThreadPoolExecutor

    if topk_kwargs.get("excluded_docs") is not None:
        import warnings

        warnings.warn(
            "topk_batched(excluded_docs=...) excludes docs WITHOUT "
            "correcting N/avgdl/df — see topk()",
            stacklevel=2,
        )
    prep = _serve_prep(
        spark, index_dir, queries,
        filters=topk_kwargs.get("filters"),
        not_terms=topk_kwargs.get("not_terms"),
        k1=topk_kwargs.pop("k1", None), b=topk_kwargs.pop("b", None),
    )

    def run_chunk(chunk: pd.DataFrame) -> tuple[pd.DataFrame, float]:
        t0 = time.monotonic()
        pdf = topk_frames(
            spark, prep["blocks"], prep["tstats"], chunk, k=k,
            **topk_kwargs, **prep["frame_kwargs"],
        ).toPandas()
        return pdf, time.monotonic() - t0

    chunks = [
        queries.iloc[i : i + max_batch]
        for i in range(0, len(queries), max_batch)
    ]
    parts = []
    with ThreadPoolExecutor(max_workers=max(1, max_inflight)) as pool:
        for pdf, dt in pool.map(run_chunk, chunks):  # order-preserving
            parts.append(pdf)
            if chunk_times is not None:
                chunk_times.append(dt)
    return local_frame(spark, TOPK_SCHEMA, pd.concat(parts, ignore_index=True))


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    docs_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    filters=None,
    text_col: str = "extracted_text",
    snippet_pad: int | None = None,
    positions_dir: str | None = None,
) -> DataFrame:
    """Exact-phrase top-k: each query_text is a PHRASE — its tokens must
    appear consecutively, in order, in the document. Two stages, both on
    existing index physics (no positional postings):

      1. candidates: conjunctive serving (`mode="and"`, k=0) — docs
         containing every phrase token, WITH their BM25 scores. The
         pool is bounded by the df of the phrase's rarest token, so for
         content phrases it is tiny; posting blocks outside the running
         intersection are never decoded.
      2. verification: candidates' text fetched by file-pruned doc_id
         point lookups (`_pruned_doc_meta` — reads only parquet files
         whose recorded id span holds a candidate), normalized JVM-side
         with the TOKENIZER'S OWN rule (lowercase, non-[a-z0-9] runs →
         one space) and matched against ' t1 t2 … ' with `contains` —
         codegen string ops, no Python in the loop. Normalized-text
         adjacency is EXACTLY token adjacency because tokens are
         maximal [a-z0-9] runs: any separator collapses to one space.

    Survivors keep their conjunctive BM25 score; final rank is
    (score DESC, doc_id ASC). Scale contract: candidate count ∝ rarest
    df — a phrase of nothing but stopwords degrades toward a corpus
    scan (same caveat class as a non-selective IVF filter); the
    escalation path for that shape is a positional-postings sidecar,
    not doc verification. Phrase-shaped matching the reference exposes
    only as un-indexed ILIKE substring predicates over titles/names
    (/root/reference/streamlit_app.py:220-231).

    `positions_dir` (a `positions.build_positions` sidecar) switches
    stage 2 to POSITIONAL verification: adjacency is checked from the
    stored per-term occurrence positions — term-pruned columnar reads,
    zero doc-text fetch — which is the scale path for common-token
    phrases where the AND candidate set is large. Results are
    bitwise-identical to doc-text verification (same tokenizer
    produced both artifacts; parity is test-locked). With
    `snippet_pad`, snippets are then computed from text fetched for
    the FINAL k·Q rows only — the cheapest possible text touch.

    Scale contract (the k=0 pool): the candidate set stays DISTRIBUTED
    end to end — it is never localized through the driver (for a
    common-token phrase it is a corpus fraction; the driver only ever
    sees the final k·Q rows, or the bounded coarse-bucket aggregate
    the doc-text path's file pruning needs — see _pruned_doc_meta_pool)."""
    cand = topk(
        spark, index_dir, queries, k=0, mode="and", filters=filters,
        rank=False,
    )
    if positions_dir is not None:
        from theoremsearch_spark.positions import phrase_verify_positional

        # single consumer: the pool flows straight into the verify
        # join as a plan subtree — no materialization anywhere
        ranked = phrase_verify_positional(
            spark, positions_dir, cand, queries, k
        )
        if snippet_pad is None:
            return ranked
        ranked = _localize_hits(spark, ranked)  # final k·Q rows — tiny
        docs = _pruned_doc_meta(spark, docs_dir, ranked, [text_col])
        return _snippets(spark, ranked, docs, queries, text_col, snippet_pad)
    # two consumers (file pruning + verify join): one EXECUTOR-side
    # materialization so the scoring pipeline runs once. Lazy: the
    # pruning aggregate triggers it, so checkpointing adds no extra job
    cand = cand.localCheckpoint(eager=False)
    docs = _pruned_doc_meta_pool(spark, docs_dir, cand, [text_col])
    return _verify_phrase(
        spark, cand, docs, queries, k, text_col, snippet_pad=snippet_pad
    )


def _verify_phrase(
    spark: SparkSession,
    cand: DataFrame,
    docs: DataFrame,
    queries: pd.DataFrame,
    k: int,
    text_col: str,
    snippet_pad: int | None = None,
) -> DataFrame:
    """Adjacency-verify conjunctive candidates against their text and
    re-rank: normalize with the tokenizer's own rule, `contains` the
    per-query ' t1 t2 … ' needle (codegen string ops), keep top-k by
    (score DESC, doc_id ASC). `snippet_pad` adds a `snippet` column:
    the normalized text window of ±pad chars around the FIRST phrase
    occurrence (locate + substring — still pure codegen)."""
    norm = F.expr(_norm_sql(text_col))
    verified = (
        cand.select("query_id", "doc_id", "score")
        .join(docs, "doc_id")
        .join(F.broadcast(_needles(spark, queries)), "query_id")
        .filter(F.contains(norm, F.col("needle")))
    )
    out_cols = ["query_id", "rank", "doc_id", "score"]
    if snippet_pad is not None:
        verified = verified.withColumn(
            "snippet", _snippet_expr(text_col, snippet_pad)
        )
        out_cols.append("snippet")
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )


_NEEDLE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("needle", T.StringType(), False),
    ]
)


def _needles(spark: SparkSession, queries: pd.DataFrame) -> DataFrame:
    """(query_id, ' t1 t2 … ') per phrase query — the normalized needle
    the contains verification and the snippet window search for."""
    return local_frame(spark, _NEEDLE_SCHEMA, pd.DataFrame({
        "query_id": queries["query_id"].to_numpy(),
        "needle": [" " + " ".join(tokenize(str(t))) + " " for t in queries["query_text"]],
    }))


def _snippets(
    spark: SparkSession, ranked: DataFrame, docs: DataFrame,
    queries: pd.DataFrame, text_col: str, pad: int,
) -> DataFrame:
    """Final positional-verified hits (localized, k·Q rows) joined to
    their text and cut to the ±pad snippet window."""
    return (
        ranked.join(docs, "doc_id")
        .join(F.broadcast(_needles(spark, queries)), "query_id")
        .withColumn("snippet", _snippet_expr(text_col, pad))
        .select("query_id", "rank", "doc_id", "score", "snippet")
    )


def _snippet_expr(text_col: str, pad: int):
    """±pad-char normalized-text window around the first needle
    occurrence — locate + substring over the same normalization the
    contains verification uses."""
    return F.expr(
        f"substring({_norm_sql(text_col)}, "
        f"greatest(1, locate(needle, {_norm_sql(text_col)}) - {int(pad)}), "
        f"{2 * int(pad)} + length(needle))"
    )


def _norm_sql(text_col: str) -> str:
    """The tokenizer-rule normalization (' ' || collapsed [a-z0-9]
    tokens || ' ') as a SQL expression string — the single source of
    truth for both the contains-verification and the snippet window."""
    return (
        f"concat(' ', regexp_replace(lower({text_col}), '[^a-z0-9]+', ' '), ' ')"
    )


def topk_rescored(
    spark: SparkSession,
    index_dir: str,
    docs_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    pool_factor: int = 10,
    weight: float = 0.1,
    weight_col: str = "doc_len",
    filters=None,
) -> DataFrame:
    """Two-stage ranking — the reference's citation-weighted rescore
    (/root/reference/streamlit_app.py:317-363): candidate pool of
    max(50, pool_factor·k) by BM25, then
    ``weighted_score = score + weight·ln(1 + weight_col)``, final top-k
    by (weighted_score DESC, score DESC, doc_id ASC) — the reference's
    exact ORDER BY shape (streamlit_app.py:362). Filters (if any) apply
    at pool time, inside the ranked query — never after the pool, which
    is the under-fill anti-pattern the reference itself warns of
    (/root/reference/app_showcase_model.py:96-129)."""
    pool = max(50, pool_factor * k)
    hits = _localize_hits(spark, topk(spark, index_dir, queries, k=pool, filters=filters))
    meta = _pruned_doc_meta(spark, docs_dir, hits, [weight_col])
    rescored = hits.join(meta, "doc_id").withColumn(
        "weighted_score",
        F.col("score") + F.lit(weight) * F.log(1.0 + F.col(weight_col)),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("weighted_score"), F.desc("score"), F.asc("doc_id")
    )
    return (
        rescored.withColumn("final_rank", F.row_number().over(w))
        .filter(F.col("final_rank") <= k)
        .select("query_id", "final_rank", "doc_id", "score", "weighted_score")
    )


def topk_with_urls(
    spark: SparkSession, index_dir: str, docs_dir: str, queries: pd.DataFrame, k: int = 10
) -> DataFrame:
    """Top-k joined with doc metadata for display — the serving shape of
    /root/reference/streamlit_app.py:276-283 (ranked ids → full rows)."""
    hits = _localize_hits(spark, topk(spark, index_dir, queries, k))
    docs = _pruned_doc_meta(spark, docs_dir, hits, ["url", "lang", "warc_ts"])
    return hits.join(docs, "doc_id", "left").orderBy("query_id", "rank")


def _localize_hits(spark: SparkSession, hits: DataFrame) -> DataFrame:
    """Materialize a top-k result (k·Q rows — tiny by construction) into
    a local relation so the metadata-join consumers can (a) derive the
    doc_id bounds for scan pruning and (b) reuse it without re-running
    the whole scoring pipeline."""
    return local_frame(spark, TOPK_SCHEMA, hits.toPandas())


def _pruned_doc_meta(
    spark: SparkSession, docs_dir: str, hits: DataFrame, cols: list[str]
) -> DataFrame:
    """Column-pruned docs scan restricted to exactly the PARQUET FILES
    that can contain the hit ids. prepare_docs writes docs
    doc_id-ascending and records each file's [lo, hi] id span in an
    `_id_ranges.json` sidecar (footer stats, zero extra IO at write
    time); the lookup binary-searches the k·Q hit ids against the
    spans and scans only the touched files — point-lookup physics, the
    10^12-doc answer the old global [min(hit), max(hit)] between-span
    could not give (hits spread across the id space make that span the
    whole table, leaving only row-group stats inside it). Dirs without
    a manifest (docs_offset generations, hand-built roots) fall back to
    the span filter, which is still pushed to row-group statistics. The
    join itself does the exact id matching; AQE broadcasts the hits
    side."""
    ids = sorted(
        int(r["doc_id"]) for r in hits.select("doc_id").distinct().collect()
    )
    sel = _prune_doc_files(docs_dir, ids)
    if sel is None:
        meta = spark.read.parquet(docs_dir).select("doc_id", *cols)
    elif not sel:
        # manifest present, no file can contain a hit — statically empty
        # (Filter(false) folds to an empty relation: zero file reads)
        return (
            spark.read.parquet(docs_dir)
            .select("doc_id", *cols)
            .filter(F.lit(False))
        )
    else:
        meta = spark.read.parquet(*sel).select("doc_id", *cols)
    if ids:
        meta = meta.filter(F.col("doc_id").between(ids[0], ids[-1]))
    return meta


def _prune_doc_files(docs_dir: str, ids: list[int]) -> list[str] | None:
    """Files of `docs_dir` whose recorded doc_id span contains at least
    one hit id, per the `_id_ranges.json` sidecar. None = no manifest
    (or no ids) — caller falls back to the whole-dir scan. An empty
    list means the manifest proves NO file holds a hit."""
    import bisect
    import os

    ranges = _load_id_ranges(docs_dir)
    if not ids or ranges is None:
        return None
    return [
        os.path.join(docs_dir, r["file"])
        for r in ranges
        if (i := bisect.bisect_left(ids, r["lo"])) < len(ids) and ids[i] <= r["hi"]
    ]


def _load_id_ranges(docs_dir: str) -> list[dict] | None:
    """The `_id_ranges.json` sidecar's [{"file", "lo", "hi"}, ...] —
    None when the dir has no manifest (hand-built roots)."""
    import json
    import os

    from theoremsearch_spark.stats import ID_RANGES_MANIFEST

    manifest = os.path.join(docs_dir, ID_RANGES_MANIFEST)
    if not os.path.isfile(manifest):
        return None
    with open(manifest) as fh:
        return json.load(fh)["files"]


def _bucket_shift(ranges: list[dict]) -> int:
    """Coarse-bucket width for pool file pruning: one bucket ≈ one data
    file's id span, so the distinct-bucket aggregate a pool produces is
    O(n_files) ints however large the pool is."""
    spans = [int(r["hi"]) - int(r["lo"]) + 1 for r in ranges if r]
    if not spans:
        return 16
    avg = max(1, sum(spans) // len(spans))
    return max(0, avg.bit_length() - 1)


def _pool_hit_buckets(cand: DataFrame, shift: int) -> list[int]:
    """Sorted distinct coarse id buckets (doc_id >> shift) of a
    DISTRIBUTED candidate pool — one map-side-combined distinct over
    the pool; the driver receives O(n_files) small ints, never a
    candidate id."""
    return sorted(
        int(r["cb"])
        for r in cand.select(F.shiftright("doc_id", shift).alias("cb"))
        .distinct()
        .collect()
    )


def _pruned_doc_meta_pool(
    spark: SparkSession, docs_dir: str, cand: DataFrame, cols: list[str]
) -> DataFrame:
    """Column-pruned docs scan for a DISTRIBUTED candidate pool —
    the k=0 analog of `_pruned_doc_meta`, which collects hit ids and is
    only sound for bounded k·Q result sets. A conjunctive pool can be a
    corpus fraction, so the file-pruning signal here is a cluster-side
    aggregate: distinct coarse id buckets (`_pool_hit_buckets`, bucket
    width ≈ one file's id span). The driver sees O(n_files) ints and
    selects exactly the files whose recorded [lo, hi] span intersects a
    hit bucket; the bucket-bound BETWEEN filter is pushed to row-group
    statistics inside them. No manifest → whole-dir scan bounded by the
    pool's exact [min, max] (a 2-value aggregate)."""
    ranges = _load_id_ranges(docs_dir)
    base = spark.read.parquet(docs_dir).select("doc_id", *cols)
    if ranges is None:
        rng = cand.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        if rng["lo"] is None:
            return base.filter(F.lit(False))
        return base.filter(F.col("doc_id").between(int(rng["lo"]), int(rng["hi"])))
    shift = _bucket_shift(ranges)
    buckets = _pool_hit_buckets(cand, shift)
    if not buckets:
        return base.filter(F.lit(False))
    import bisect
    import os

    sel = [
        os.path.join(docs_dir, r["file"])
        for r in ranges
        if (i := bisect.bisect_left(buckets, int(r["lo"]) >> shift)) < len(buckets)
        and buckets[i] <= int(r["hi"]) >> shift
    ]
    if not sel:
        return base.filter(F.lit(False))
    return (
        spark.read.parquet(*sel)
        .select("doc_id", *cols)
        .filter(
            F.col("doc_id").between(
                buckets[0] << shift, ((buckets[-1] + 1) << shift) - 1
            )
        )
    )
