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

Serving view: every entry point serves a `ServeView` — a list of index
generations (index, docs and optional positions dirs, `index_meta.json`
metadata) with their merged statistics, plus the tombstone dirs whose
dead doc versions are masked out of scoring. A plain index dir is a
one-generation view with no tombstones (`open_index`); a generation
root opens from its gens manifest (`streaming.incremental.open_root`).
One `serve_prep` reads a batch's term statistics for either, and
chunked batches (BM25 and ANN alike) go through `collect_chunks`.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from theoremsearch_spark import codec
from theoremsearch_spark import sidecar
from theoremsearch_spark.build import SERVE_POSTINGS_SCHEMA, TERM_STATS_SCHEMA, load_index_meta
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


@dataclass(frozen=True)
class Generation:
    """One index generation of a serving view. `filter_cols` is what
    its manifest records as indexed filter columns (None = unrecorded,
    trusted to carry its own filter_terms)."""

    gen: int
    index: str
    docs: str | None
    positions: str | None
    meta: dict
    filter_cols: list[str] | None = None


class ServeView:
    """The generations a serve reads, their merged statistics and the
    tombstone dirs whose doc versions are dead. Merged statistics are
    what a from-scratch build over the union corpus would record: N and
    avgdl add up (tombstones correct them per batch, in `serve_prep`);
    sharded routing needs every generation to agree on the segment
    modulus, else queries score unsharded — correct, just one task."""

    def __init__(self, gens: list[Generation], tombstones: list[str] = ()):
        self.gens = list(gens)
        self.tombstones = list(tombstones)
        metas = [g.meta for g in self.gens]
        self.n_docs = sum(int(m["n_docs"]) for m in metas)
        self.avgdl = float(metas[0]["avgdl"]) if len(metas) == 1 else sum(
            float(m["avgdl"]) * int(m["n_docs"]) for m in metas
        ) / max(self.n_docs, 1)
        self.k1, self.b = float(metas[0]["k1"]), float(metas[0]["b"])
        moduli = {int(m["n_segments"]) for m in metas}
        self.n_segments = moduli.pop() if len(moduli) == 1 else 1


def open_index(
    spark: SparkSession,
    index_dir: str,
    docs_dir: str | None = None,
    positions_dir: str | None = None,
) -> ServeView:
    """A plain index dir as a one-generation view without tombstones.
    `docs_dir` is where doc lookups (phrase text, result metadata) read;
    `positions_dir` a `positions.build_positions` sidecar."""
    return ServeView([Generation(
        0, index_dir, docs_dir, positions_dir, load_index_meta(index_dir)
    )])


@dataclass(frozen=True)
class ServePrep:
    """One batch's serving state: the lazy postings frame, the batch's
    merged term rows (term, term_id, df, any_salted) and the scoring
    statistics, all corrected for tombstoned docs, whose mask is
    broadcast once (`excluded_bc`) and shared by every chunk."""

    blocks: DataFrame
    tstats: pd.DataFrame
    n_docs: int
    avgdl: float
    k1: float
    b: float
    n_segments: int
    excluded_bc: object = None


# one row per (generation, batch term): the multi-generation scoring
# job's broadcast side
_GEN_TERMS_SCHEMA = T.StructType(
    [
        T.StructField("gen", T.IntegerType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("is_salted", T.BooleanType(), False),
        T.StructField("ub_scale", T.DoubleType(), False),
    ]
)


def serve_prep(
    spark: SparkSession,
    view: ServeView,
    queries: pd.DataFrame,
    *,
    filters=None,
    not_terms: list[str] | None = None,
    k1: float | None = None,
    b: float | None = None,
) -> ServePrep:
    """Serving state for a whole batch, loaded ONCE (chunked serving
    reuses it for every chunk — the term set is the union over all
    queries, and a chunk's _build_qterms merge ignores the other
    chunks' rows): ONE term-dictionary scan over every generation for
    the batch's terms (plus its filter and must-not terms) and, when
    the view has tombstones, ONE concurrent pass building the dead-doc
    mask and the per-term dead-doc counts. Both tables are read with
    declared schemas (no footer-inference job), so a plain index costs
    exactly one prep job.

    Saltedness is decided per generation at ITS build threshold, on its
    own df (a layout property, never the corrected statistic). With one
    generation it is a per-term flag and comes from the term side, so
    the postings plan carries no generation column; with several, a
    per-(generation, term) relation is joined onto the blocks. The
    block-max bounds are rescaled per generation by max(1, serve avgdl
    / generation avgdl): tf_norm grows with avgdl, so bounds computed
    at build time stay sound under merged, corrected statistics.

    k1/b overrides that differ from the build-time values are rejected:
    stored per-block `max_tf_norm` upper bounds are computed with the
    build parameters, and pruning with foreign k1/b could silently drop
    true top-k members."""
    for name, want, have in (("k1", k1, view.k1), ("b", b, view.b)):
        if want is not None and abs(float(want) - have) > 1e-12:
            raise ValueError(
                f"{name}={want} differs from index build {name}={have}; "
                "block-max pruning bounds would be unsound — rebuild the index"
            )
    all_terms = sorted({t for q in queries["query_text"] for t in tokenize(q)})
    fkeys = set()
    for g in _normalize_filters(filters):
        all_terms.extend(g)
        fkeys |= {t.split("=", 1)[0] for t in g}
    all_terms.extend(not_terms or [])
    for g in view.gens:
        # a generation that did not index a filter's posting list would
        # silently exclude ALL its docs from filtered results
        if fkeys and g.filter_cols is not None and not fkeys <= set(g.filter_cols):
            raise ValueError(
                f"generation {g.gen} indexed filter_cols={g.filter_cols} but the "
                f"query filters on {sorted(fkeys)} — filtered serving "
                "would silently drop that generation's documents; "
                "rebuild/compact with consistent filter_cols"
            )

    multi = len(view.gens) > 1
    tstats_plan = spark.read.schema(TERM_STATS_SCHEMA).parquet(
        *[f"{g.index}/term_stats" for g in view.gens]
    )
    if multi:
        tstats_plan = tstats_plan.withColumn("gen", _gen_col())
    tstats_plan = tstats_plan.filter(F.col("term").isin(all_terms))
    n_docs, avgdl, mask, dfc = view.n_docs, view.avgdl, None, {}
    if view.tombstones:
        from concurrent.futures import ThreadPoolExecutor

        from theoremsearch_spark.streaming.incremental import (
            TOMBSTONE_SCHEMA,
            _tombstone_artifact,
        )

        dead = (
            spark.read.schema(TOMBSTONE_SCHEMA)
            .parquet(*view.tombstones)
            .dropDuplicates(["doc_id"])
        )
        # two independent tiny jobs: overlapping them collapses their
        # walls into ~one
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(tstats_plan.toPandas)
            mask, n_dead, dl_dead, dfc = _tombstone_artifact(dead, all_terms)
            per_gen = fut.result()
        if n_dead:
            total_len = avgdl * n_docs - dl_dead
            n_docs -= n_dead
            avgdl = total_len / max(n_docs, 1)
    else:
        per_gen = tstats_plan.toPandas()
    if not multi:
        per_gen["gen"] = view.gens[0].gen

    thr = {
        g.gen: 2**62 if g.meta.get("salt_threshold") is None
        else int(g.meta["salt_threshold"])
        for g in view.gens
    }
    per_gen["any_salted"] = per_gen["df"] > per_gen["gen"].map(thr)
    tstats = per_gen.groupby(["term", "term_id"], as_index=False).agg(
        df=("df", "sum"), any_salted=("any_salted", "max")
    )
    tstats["any_salted"] = tstats["any_salted"].astype(bool)
    if dfc:
        tstats["df"] = tstats["df"] - tstats["term"].map(dfc).fillna(0).astype(int)

    ub_scale = {g.gen: max(1.0, avgdl / float(g.meta["avgdl"])) for g in view.gens}
    # postings read with the declared serve schema: the build-lineage
    # columns never reach the scorer, and the bucket=N dirs are plain
    # files (serving filters on term_id, pushed to row-group stats, never
    # on bucket; multi-root partition discovery would reject the roots)
    blocks = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(SERVE_POSTINGS_SCHEMA)
        .parquet(*[f"{g.index}/postings" for g in view.gens])
    )
    if multi:
        gen_terms = local_frame(spark, _GEN_TERMS_SCHEMA, per_gen.assign(
            is_salted=per_gen["any_salted"], ub_scale=per_gen["gen"].map(ub_scale)
        ))
        blocks = (
            blocks.withColumn("gen", _gen_col())
            .join(F.broadcast(gen_terms), ["gen", "term_id"])
            .withColumn(
                "max_tf_norm", (F.col("max_tf_norm") * F.col("ub_scale")).cast("float")
            )
            .drop("ub_scale", "gen")
        )
    elif ub_scale[view.gens[0].gen] > 1.0:
        blocks = blocks.withColumn("max_tf_norm", (
            F.col("max_tf_norm") * F.lit(ub_scale[view.gens[0].gen])
        ).cast("float"))
    return ServePrep(
        blocks=blocks, tstats=tstats, n_docs=int(n_docs), avgdl=float(avgdl),
        k1=view.k1, b=view.b, n_segments=view.n_segments,
        excluded_bc=spark.sparkContext.broadcast(mask) if mask is not None else None,
    )


def _gen_col():
    """Generation id of a row read from a multi-generation root, parsed
    from its file path: each table is ONE multi-path scan however many
    generations the root holds."""
    return F.regexp_extract(F.input_file_name(), r"gen_(-?\d+)/index", 1).cast("int")


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
    n_segments: int,
    not_terms: list[str] | None = None,
) -> pd.DataFrame | None:
    """(query_id, term, term_id, df, any_salted, is_filter, fgroup,
    is_not, n_req, q_segs, n_fgroups) — the broadcast fan side. Returns
    None when a required filter group has no indexed term (conjunction
    unsatisfiable). `not_terms` are batch-global MUST-NOT terms — rows
    flagged is_not; an unindexed must-not term excludes nothing, so it
    drops out at the tstats merge. `n_req` is the query's pre-merge
    distinct scoring-token count (conjunctive serving needs it to tell
    unindexed-term-in-query apart from indexed-but-elsewhere). A query
    touching any salted term is segment-sharded (`q_segs`)."""
    qt = queries.assign(terms=queries["query_text"].map(lambda s: sorted(set(tokenize(s)))))
    nreq_map = dict(zip(qt["query_id"], qt["terms"].map(len)))
    pairs = qt[["query_id", "terms"]].explode("terms").dropna()
    pairs = pairs.rename(columns={"terms": "term"}).assign(
        is_filter=False, fgroup=-1, is_not=False
    )

    # filter and must-not rows apply to every query of the batch
    batch_rows = []
    if fgroups:
        frows = pd.DataFrame(
            [(gi, t) for gi, g in enumerate(fgroups) for t in g],
            columns=["fgroup", "term"],
        )
        indexed = frows.merge(tstats[["term"]], on="term")
        missing = set(range(len(fgroups))) - set(indexed["fgroup"].unique())
        if missing:
            return None  # an AND-group matches nothing in the index
        batch_rows.append(frows.assign(is_filter=True, is_not=False))
    if not_terms:
        batch_rows.append(pd.DataFrame({"term": sorted(set(not_terms))}).assign(
            is_filter=False, fgroup=-1, is_not=True
        ))
    if batch_rows:
        qids = pd.DataFrame({"query_id": queries["query_id"].unique()})
        pairs = pd.concat(
            [pairs, *(r.merge(qids, how="cross")[pairs.columns] for r in batch_rows)],
            ignore_index=True,
        )

    qterm = pairs.merge(tstats, on="term")  # drops unindexed scoring terms
    if qterm.empty:
        return None
    heavy = qterm.groupby("query_id")["any_salted"].max().astype(bool)
    q_segs = heavy.map(lambda h: n_segments if h else 1).rename("q_segs")
    qterm = qterm.merge(q_segs.reset_index(), on="query_id")
    qterm["n_fgroups"] = len(fgroups)
    qterm["n_req"] = qterm["query_id"].map(nreq_map).fillna(0).astype(int)
    return qterm


def _fan(spark: SparkSession, blocks: DataFrame, qterm: pd.DataFrame) -> DataFrame:
    """Blocks × queries with segment routing: a heavy term's segment-s
    blocks go to exactly task (q, s) — never replicated; light blocks
    (bounded bytes by the salt threshold) replicate to the query's S
    tasks; single-task queries route everything to (q, 0)."""
    qterm_df = spark.createDataFrame(
        qterm[["query_id", "term", "term_id", "df", "any_salted", "is_filter",
               "fgroup", "is_not", "n_req", "q_segs", "n_fgroups"]]
    )
    fan = blocks.join(F.broadcast(qterm_df), "term_id")
    # a SALTED list's segment-s blocks route to exactly task (q, s);
    # unsalted (light) lists replicate to the query's S tasks and are
    # narrowed to the task's doc residue inside the scorer. Saltedness
    # is block-level when the blocks carry it (multi-generation view —
    # the same term can be salted in one generation and flat in
    # another), else the term's own flag.
    salted = F.col("is_salted") if "is_salted" in blocks.columns else F.col("any_salted")
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
    prep: ServePrep,
    queries: pd.DataFrame,
    *,
    k: int = 10,
    filters=None,
    allowed_docs=None,
    mode: str = "or",
    not_terms: list[str] | None = None,
    rank: bool = True,
) -> DataFrame:
    """Batch top-k of `queries` over one batch's serve state (see
    `serve_topk` for the arguments). Tombstoned doc versions
    (`prep.excluded_bc`) are dropped at decode time inside the scorer;
    `prep` carries the global statistics corrected for them, which is
    what makes upsert serving score-identical to a from-scratch build
    over the latest versions.

    With `n_segments > 1`, heavy-term queries are segment-sharded (see
    module docstring); the per-query group shuffle then moves
    O(segments·k) result rows, never whole posting lists."""
    qterm = _build_qterms(
        queries, prep.tstats, _normalize_filters(filters), prep.n_segments,
        not_terms=not_terms,
    )
    if qterm is None:
        return local_frame(spark, TOPK_SCHEMA if rank else _GROUP_SCHEMA)
    ids = [int(x) for x in qterm["term_id"].unique()]

    allowed_bc = None
    if allowed_docs is not None:
        arr = np.unique(np.asarray(list(allowed_docs), dtype=np.int64))
        if arr.size == 0:
            return local_frame(spark, TOPK_SCHEMA if rank else _GROUP_SCHEMA)
        allowed_bc = spark.sparkContext.broadcast(arr)

    # posting scan touches only the queried term_ids — an int64 IN-filter
    # pushed into the parquet row-group stats
    fan = _fan(spark, prep.blocks.filter(F.col("term_id").isin(ids)), qterm)
    part = _score_fan(
        fan, n_docs=prep.n_docs, avgdl=prep.avgdl, k1=prep.k1, b=prep.b, k=k,
        mode=mode, allowed_bc=allowed_bc, excluded_bc=prep.excluded_bc,
    )
    if not rank:
        return part  # exact candidate pool — no global window (see serve_topk)
    # global merge: ≤ S·k tiny rows per query (TakeOrdered-shaped window);
    # k <= 0 (conjunctive pool) ranks but keeps every candidate
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = part.withColumn("rank", F.row_number().over(w))
    if k > 0:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("query_id", "rank", "doc_id", "score")


def collect_chunks(
    spark: SparkSession, fn, queries: pd.DataFrame, max_batch: int,
    max_inflight: int = 2, chunk_times: list | None = None,
) -> DataFrame:
    """`fn(chunk)` (a lazy result frame) over `queries` cut into chunks
    of `max_batch`, collected `max_inflight` at a time on worker threads
    (Spark overlaps their jobs: the next chunk's tasks back-fill
    executors freed by the current chunk's straggler tail), concatenated
    in chunk order into one local relation. `chunk_times` receives each
    chunk's wall seconds, measured under that concurrency (bench.py
    derives serving-latency p50/p95 from them)."""
    from concurrent.futures import ThreadPoolExecutor

    def run(chunk: pd.DataFrame) -> tuple:
        t0 = time.monotonic()
        res = fn(chunk)
        return res.schema, res.toPandas(), time.monotonic() - t0

    chunks = [queries.iloc[i : i + max_batch] for i in range(0, len(queries), max_batch)]
    with ThreadPoolExecutor(max_workers=max(1, max_inflight)) as pool:
        done = list(pool.map(run, chunks))
    if chunk_times is not None:
        chunk_times.extend(dt for _, _, dt in done)
    return local_frame(
        spark, done[0][0], pd.concat([pdf for _, pdf, _ in done], ignore_index=True)
    )


def serve_topk(
    spark: SparkSession,
    view: ServeView,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    filters=None,
    allowed_docs=None,
    k1: float | None = None,
    b: float | None = None,
    mode: str = "or",
    not_terms: list[str] | None = None,
    rank: bool = True,
    max_batch: int = 0,
    chunk_times: list | None = None,
    max_inflight: int = 2,
) -> DataFrame:
    """Batch top-k over a serving view: queries pandas(query_id,
    query_text) → Spark DF of (query_id, rank, doc_id, score). Prep
    (`serve_prep`) is eager, scoring lazy.

    `mode="and"`: conjunctive serving — only docs containing EVERY
    query term qualify (rarest-first intersection in the scorer,
    restrict-pushdown decode), still BM25-scored and ranked. With
    `k <= 0` every conjunctive candidate is returned — the
    phrase-verification and facet pool (k <= 0 is rejected for
    mode="or": the disjunctive candidate set is corpus-sized for any
    common term). `not_terms`: batch-global MUST-NOT terms — docs
    containing any of them are excluded before scoring, both modes.

    `rank=False` (k <= 0 only) returns the UNRANKED pool (query_id,
    doc_id, score) — no global window: the pool feeds phrase
    verification / facet counting, which re-rank (or never rank)
    downstream, so the row_number exchange+sort over the full AND set
    is pure waste there. Segments are doc-disjoint, so the un-windowed
    union of per-segment rows IS the exact candidate set.

    `filters`: conjunctive filter groups over build-time `filter_terms`
    posting lists (each group a term or an OR-list) — reference R3.
    `allowed_docs`: explicit doc_id whitelist (broadcast), for ad-hoc
    predicates; combine freely with `filters`. `k1`/`b`: see
    `serve_prep`.

    `max_batch` serves the batch in bounded chunks of that many queries
    (0 = one plan): one scoring job per chunk over the shared prep,
    chunk results (k rows/query, tiny) concatenated into one
    local-relation DataFrame, bitwise identical to one big batch
    (scoring is per-query, global stats are batch-independent). The
    scorer's fan working set (posting blocks × queries) grows with the
    batch while per-core heap is fixed, so on a PACKED executor the
    wide side of a cluster degrades first — measured on the pinned
    1→4-core protocol: N→4N serving efficiency 0.805 at 292 queries vs
    0.703 at 584 (BENCH/BASELINE.md round 4). Chunks run through
    `collect_chunks`, `max_inflight` at a time, so the co-resident
    working set stays bounded by max_inflight·chunk."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if k <= 0 and mode != "and":
        raise ValueError("k <= 0 (full candidate set) requires mode='and'")
    if not rank and k > 0:
        raise ValueError("rank=False is the k <= 0 candidate-pool shape")
    prep = serve_prep(
        spark, view, queries, filters=filters, not_terms=not_terms, k1=k1, b=b
    )
    kw = dict(
        k=k, filters=filters, allowed_docs=allowed_docs, mode=mode,
        not_terms=not_terms, rank=rank,
    )
    if not max_batch or len(queries) <= max_batch:
        return topk_frames(spark, prep, queries, **kw)
    return collect_chunks(
        spark, lambda chunk: topk_frames(spark, prep, chunk, **kw), queries,
        max_batch, max_inflight, chunk_times,
    )


def topk(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    filters=None,
    allowed_docs=None,
    k1: float | None = None,
    b: float | None = None,
    mode: str = "or",
    not_terms: list[str] | None = None,
    rank: bool = True,
) -> DataFrame:
    """Batch top-k over a plain index dir — `serve_topk` over its
    one-generation view."""
    return serve_topk(
        spark, open_index(spark, index_dir), queries, k, filters=filters,
        allowed_docs=allowed_docs, k1=k1, b=b, mode=mode,
        not_terms=not_terms, rank=rank,
    )


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
    """`topk` served in bounded chunks of `max_batch` queries (see
    `serve_topk`); `max_batch=0` = unchunked."""
    return serve_topk(
        spark, open_index(spark, index_dir), queries, k, max_batch=max_batch,
        chunk_times=chunk_times, max_inflight=max_inflight, **topk_kwargs,
    )


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
    """Exact-phrase top-k over a plain index dir — `serve_phrase` over
    its one-generation view. `positions_dir` (a
    `positions.build_positions` sidecar) selects positional
    verification; without it candidates are verified against their
    text in `docs_dir`."""
    view = open_index(spark, index_dir, docs_dir, positions_dir)
    return serve_phrase(
        spark, view, queries, k, filters=filters, text_col=text_col,
        snippet_pad=snippet_pad,
    )


def serve_phrase(
    spark: SparkSession,
    view: ServeView,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    filters=None,
    text_col: str = "extracted_text",
    snippet_pad: int | None = None,
    use_positions: bool | None = None,
) -> DataFrame:
    """Exact-phrase top-k: each query_text is a PHRASE — its tokens must
    appear consecutively, in order, in the document. Two stages:

      1. candidates: conjunctive serving (`mode="and"`, k=0, unranked) —
         docs containing every phrase token, WITH their BM25 scores,
         tombstoned versions excluded. The pool is bounded by the df of
         the phrase's rarest token, so for content phrases it is tiny;
         posting blocks outside the running intersection are never
         decoded.
      2. verification, one of:
         - POSITIONAL, when every generation carries a positions
           sidecar: adjacency is checked from the stored per-term
           occurrence positions — term-pruned columnar reads, zero
           doc-text fetch — the scale path for common-token phrases
           whose AND candidate set is large. With `snippet_pad`,
           snippets are then computed from text fetched for the FINAL
           k·Q rows only.
         - DOC TEXT: candidates' text fetched by file-pruned lookups
           (`pool_doc_rows`), normalized JVM-side with the TOKENIZER'S
           OWN rule (lowercase, non-[a-z0-9] runs → one space) and
           matched against ' t1 t2 … ' with `contains` — codegen string
           ops, no Python in the loop. Normalized-text adjacency is
           EXACTLY token adjacency because tokens are maximal [a-z0-9]
           runs: any separator collapses to one space.
         Both give bitwise-identical results (the same tokenizer
         produced both artifacts; parity is test-locked).
         `use_positions`: None = positional iff every generation has a
         sidecar, True = require them (raises — no silent strategy
         downgrade), False = doc text.

    Survivors keep their conjunctive BM25 score; final rank is
    (score DESC, doc_id ASC). Scale contract: the k=0 pool stays
    DISTRIBUTED end to end — for a common-token phrase it is a corpus
    fraction; the driver only ever sees the final k·Q rows, or the
    bounded coarse-bucket aggregate the doc-text path's file pruning
    needs. Phrase-shaped matching the reference exposes only as
    un-indexed ILIKE substring predicates over titles/names
    (the reference's streamlit_app.py:220-231)."""
    missing = [g.index for g in view.gens if g.positions is None]
    if use_positions is None:
        use_positions = not missing
    if use_positions and missing:
        raise ValueError(
            f"positions sidecar missing for generation dirs {missing}; "
            "rebuild those generations with positions (or pass "
            "use_positions=False) — a partial sidecar would silently "
            "drop matches from the uncovered generations"
        )
    cand = serve_topk(
        spark, view, queries, k=0, mode="and", filters=filters, rank=False
    )
    if use_positions:
        from theoremsearch_spark.positions import phrase_verify_positional

        # single consumer: the pool flows straight into the verify
        # join as a plan subtree — no materialization anywhere
        ranked = phrase_verify_positional(
            spark, [g.positions for g in view.gens], cand, queries, k
        )
        if snippet_pad is None:
            return ranked
        ranked, docs = _localized_docs(spark, view, ranked, [text_col])
        return _snippets(spark, ranked, docs, queries, text_col, snippet_pad)
    # two consumers (file pruning + verify join): one EXECUTOR-side
    # materialization so the scoring pipeline runs once. Lazy: the
    # pruning aggregate triggers it, so checkpointing adds no extra job
    cand = cand.localCheckpoint(eager=False)
    docs = pool_doc_rows(spark, view, cand, [text_col])
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
    view = open_index(spark, index_dir, docs_dir)
    pool = max(50, pool_factor * k)
    hits, meta = _localized_docs(
        spark, view, serve_topk(spark, view, queries, k=pool, filters=filters), [weight_col]
    )
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
    view = open_index(spark, index_dir, docs_dir)
    return with_doc_meta(spark, view, serve_topk(spark, view, queries, k))


# the doc metadata a displayed result carries
_DISPLAY_COLS = ["url", "lang", "warc_ts"]


def with_doc_meta(spark: SparkSession, view: ServeView, ranked: DataFrame) -> DataFrame:
    """Ranked hits joined (left) to the display columns their docs
    tables carry, ordered by (query_id, rank)."""
    hits, docs = _localized_docs(spark, view, ranked, _DISPLAY_COLS)
    return hits.join(docs, "doc_id", "left").orderBy("query_id", "rank")


def _localized_docs(
    spark: SparkSession, view: ServeView, ranked: DataFrame, cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """(hits, docs): a top-k result (k·Q rows — tiny by construction)
    collected once into a local relation, so its consumers reuse it
    without re-running the scoring pipeline, and the (doc_id, *cols)
    rows of its ids in the view's docs tables, reading only the PARQUET
    FILES that can contain one. prepare_docs writes docs doc_id-ascending
    and records each file's [lo, hi] id span in an `_id_ranges.json`
    sidecar; the lookup binary-searches the hit ids against the spans
    and scans only the touched files — point-lookup physics, where a
    global [min(hit), max(hit)] span would cover the whole table for
    hits spread across the id space. The join itself does the exact id
    matching; AQE broadcasts the hits side."""
    pdf = ranked.toPandas()
    ids = sorted({int(i) for i in pdf["doc_id"]})
    return local_frame(spark, TOPK_SCHEMA, pdf), _docs_touching(spark, view, ids, 0, cols)


def _docs_touching(
    spark: SparkSession, view: ServeView, keys: list[int], shift: int, cols: list[str]
) -> DataFrame:
    """(doc_id, *cols) rows of the docs files whose recorded id span
    holds a doc with `doc_id >> shift` in the sorted `keys`, filtered to
    the keys' id span (pushed to row-group statistics). Dirs without an
    `_id_ranges.json` manifest (docs tables a caller built) are read
    whole, with the schema `_docs_reader` declares. No keys, or
    manifests proving no file holds one, give a statically empty frame
    (Filter(false) folds to an empty relation: zero file reads).
    Columns a docs table lacks are left out."""
    import bisect
    import os

    recs = [_load_id_ranges(g.docs) for g in view.gens]
    reader = _docs_reader(spark, recs)
    paths: list[str] = []
    for g, rec in zip(view.gens, recs) if keys else ():
        if rec is None:
            paths.append(g.docs)
            continue
        paths.extend(
            os.path.join(g.docs, r["file"])
            for r in rec["files"]
            if (i := bisect.bisect_left(keys, int(r["lo"]) >> shift)) < len(keys)
            and keys[i] <= int(r["hi"]) >> shift
        )
    if not paths:
        docs = reader.parquet(*[g.docs for g in view.gens]).filter(F.lit(False))
    else:
        docs = reader.parquet(*paths).filter(
            F.col("doc_id").between(keys[0] << shift, ((keys[-1] + 1) << shift) - 1)
        )
    return docs.select("doc_id", *[c for c in cols if c in docs.columns])


def _docs_reader(spark: SparkSession, recs: list[dict | None]):
    """A reader for docs dirs with these `_id_ranges.json` records: it
    declares the schema when every record holds the same one, so no
    footer-inference job runs; otherwise it infers."""
    schemas = [r and T.StructType.fromJson(r["schema"]) for r in recs]
    if schemas[0] is not None and all(s == schemas[0] for s in schemas):
        return spark.read.schema(schemas[0])
    return spark.read


def _load_id_ranges(docs_dir: str) -> dict | None:
    """The `_id_ranges.json` record of a docs dir: its files' id spans
    ({"file", "lo", "hi"}) and the table's schema. None when the dir has
    no manifest (a docs table the caller built)."""
    from theoremsearch_spark.stats import ID_RANGES_MANIFEST

    return sidecar.read_json(f"{docs_dir}/{ID_RANGES_MANIFEST}")


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


def pool_doc_rows(
    spark: SparkSession, view: ServeView, cand: DataFrame, cols: list[str]
) -> DataFrame:
    """(doc_id, *cols) rows of the view's docs tables for a DISTRIBUTED
    candidate pool — the k=0 analog of `_localized_docs`, whose id list is
    only sound for bounded result sets. A conjunctive pool can be a
    corpus fraction, so the file-pruning keys are a cluster-side
    aggregate: distinct coarse id buckets (`_pool_hit_buckets`, bucket
    width ≈ one file's id span across the generations). The driver sees
    O(n_files) ints, never a candidate id."""
    spans = [r for g in view.gens for r in (_load_id_ranges(g.docs) or {}).get("files", ())]
    shift = _bucket_shift(spans)
    return _docs_touching(spark, view, _pool_hit_buckets(cand, shift), shift, cols)
