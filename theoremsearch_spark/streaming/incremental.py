"""Structured Streaming extensions.

The reference has no streams — its "incremental" model is anti-join +
keyset pagination + upsert between batch stages (SURVEY §2.9,
/root/reference/ec2/rds/paginate.py:21-67). Here that model gets a
true streaming analog:

  - `incremental_index`: readStream over a documents directory →
    foreachBatch → the SAME batch build pipeline appends new postings
    as a fresh segment generation per micro-batch, with manifest rows —
    the streaming equivalent of the reference's per-batch
    DELETE+upsert commit (/root/reference/ec2/parse_arxiv_papers/
    __main__.py:262-285). Readers merge generations at query time the
    same way salted segments merge.

Scale notes: foreachBatch reuses the exact batch operators, so the
micro-batch path inherits the same shuffle/skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from theoremsearch_spark import sidecar
from theoremsearch_spark.corpus import DOCUMENTS_SCHEMA


def _generations(spark: SparkSession, out_dir: str) -> list[dict]:
    """Gens manifest = one JSON file per committed generation — atomic
    single-file writes, so concurrent executors/micro-batches never race
    on a shared parquet committer dir.

    A generation may carry `replaces: [gen, ...]` (written by
    `compact_generations`): superseded generations are dropped from the
    view the instant the compacted generation's manifest file appears
    (one atomic rename), so readers never see a doc twice."""
    raw = _raw_generations(out_dir)
    replaced = {g for r in raw for g in r.get("replaces", [])}
    return [r for r in raw if r["gen"] not in replaced]


def _raw_generations(out_dir: str) -> list[dict]:
    """Every manifest record, INCLUDING superseded generations — the
    idempotency check for micro-batch replay must consult this view: a
    batch whose generation was compacted away is still ingested. A
    record of another format version is refused (sidecar.py)."""
    return sidecar.read_json_dir(f"{out_dir}/gens")


def _tier_buckets(gens: list[dict], f: float) -> list[list[dict]]:
    """Similar-size buckets (the Cassandra-STCS shape): ascending by
    n_docs, a generation joins a bucket when its size lies within
    [f·avg, avg/f] of the bucket's running average. Equal-size
    micro-batches share one bucket (so a steady stream compacts); a
    generation much larger than the rest sits alone until younger
    merged tiers grow comparable."""
    buckets: list[list[dict]] = []
    for g in sorted(gens, key=lambda g: g["n_docs"]):
        for b in buckets:
            avg = sum(x["n_docs"] for x in b) / len(b)
            if f * avg <= g["n_docs"] <= avg / f:
                b.append(g)
                break
        else:
            buckets.append([g])
    return buckets


def _docs_path(out_dir: str, gen: int) -> str:
    return f"{out_dir}/gen_{gen}/docs"


def _tombstone_paths(out_dir: str, gen_ids) -> list[str]:
    import os

    return [
        p
        for g in gen_ids
        if os.path.isdir(p := f"{out_dir}/gen_{g}/tombstones")
    ]


# bucket count of every key index: the text root's url index (`ub=`
# dirs) and the ANN vec_id index (`vb=` dirs, functions/similarity.py)
KEY_BUCKETS = 64


def _key_bucket(col):
    """The key-index bucket of a key column — the one bucket rule of
    both engines' key indexes."""
    return F.pmod(F.xxhash64(col), F.lit(KEY_BUCKETS)).cast("int")


def _write_keyindex(rows: DataFrame, key: str, part: str, path: str) -> None:
    """Persist a generation's key index: `rows` hash-partitioned into
    `<part>=<n>` dirs by `_key_bucket(key)` — the key-hash-bucket layout
    of sources/sinks.upsert_parquet. A later write then finds a key's
    prior versions by reading ONLY the buckets its keys hash into
    (`_touched_buckets`): O(keys / KEY_BUCKETS) of the index instead of
    an O(corpus) scan per batch — the reference analog is a keyed
    DELETE, not a table scan (/root/reference/ec2/parse_arxiv_papers/
    __main__.py:269-283)."""
    (
        rows.withColumn(part, _key_bucket(F.col(key)))
        .repartition(part)
        .write.mode("overwrite")
        .partitionBy(part)
        .parquet(path)
    )


def _touched_buckets(keys: DataFrame, key: str) -> list[int]:
    """The key-index buckets the `key` values of `keys` hash into, by an
    executor-side distinct: ≤ KEY_BUCKETS tiny ints to the driver."""
    return sorted(
        r["b"]
        for r in keys.select(_key_bucket(F.col(key)).alias("b")).distinct().collect()
    )


def _listed_buckets(keys: DataFrame, key: str) -> list[int]:
    """`_touched_buckets` for a driver-side key list (a `query.
    local_frame`): Spark folds the bucket projection into the local
    relation, so collecting it runs no job, and the dedup happens
    here. A delete's keys arrive as such a list."""
    return sorted({r[0] for r in keys.select(_key_bucket(F.col(key))).collect()})


def _write_tombstones(rows: DataFrame, path: str) -> int:
    """Write tombstone `rows` to `path` and return how many were
    written, counted from the written files (`positions.
    _written_row_count`: footers, or a Spark count where the footer walk
    sees no file — never a silent 0). A dir holding no row is removed,
    so no generation carries an empty tombstones dir (serving would run
    the tombstone-artifact job over it for nothing). Both engines write
    their tombstones through here."""
    import shutil

    from theoremsearch_spark.positions import _written_row_count

    rows.write.mode("overwrite").parquet(path)
    n = _written_row_count(rows.sparkSession, path, rows.schema)
    if not n:
        shutil.rmtree(path, ignore_errors=True)
    return n


def _live_prior_versions(
    spark: SparkSession,
    out_dir: str,
    gens: list[dict],
    urls_df: DataFrame,
    buckets: list[int],
) -> DataFrame | None:
    """Tombstone rows (TOMBSTONE_SCHEMA) of every LIVE doc version whose
    url is in `urls_df` — the rows an upsert or delete must tombstone.
    Read from the key indexes of the committed index generations, only
    the `ub=` dirs the urls hash into (no docs-table access), then
    anti-joined once against the committed tombstones: a version an
    earlier batch tombstoned must not be tombstoned AGAIN — a duplicate
    would survive a tiered compaction that resolves only the merged
    generations' tombstones and then double-subtract that doc from the
    serving stat corrections.

    None ONLY when there are no index generations. A bucket dir absent
    on disk is not an error (a small generation materializes only the
    ub= dirs its urls fall in); an index generation without a key index
    is refused by name — skipping it would leave a second version of
    its docs serving. `buckets` are the key-index buckets of those urls
    (`_touched_buckets`, or `_listed_buckets` for a driver-side list)."""
    import os

    from theoremsearch_spark.query import local_frame

    live = [g["gen"] for g in gens if not g.get("delete_only")]
    if not live:
        return None
    for g in live:
        if not os.path.isdir(f"{out_dir}/gen_{g}/keyindex"):
            raise ValueError(
                f"generation {g} under {out_dir} has no keyindex/, so the prior "
                "versions of its docs cannot be found; compact it into a "
                "generation that has one, or re-ingest the root"
            )
    paths = [
        p
        for g in live
        for b in buckets
        if os.path.isdir(p := f"{out_dir}/gen_{g}/keyindex/ub={b}")
    ]
    if not paths:
        return local_frame(spark, TOMBSTONE_SCHEMA)
    rows = (
        spark.read.schema(TOMBSTONE_SCHEMA).parquet(*paths)
        .join(F.broadcast(urls_df), "url")
        .select(*TOMBSTONE_SCHEMA.fieldNames())
    )
    tomb_paths = _tombstone_paths(out_dir, [g["gen"] for g in gens])
    if tomb_paths:
        dead = spark.read.schema(TOMBSTONE_SCHEMA).parquet(*tomb_paths)
        rows = rows.join(dead.select("doc_id"), "doc_id", "left_anti")
    return rows


def commit_generation(
    out_dir: str,
    gen: int,
    base: int,
    n_docs: int,
    replaces: list[int] = (),
    id_end: int | None = None,
    delete_only: bool = False,
    filter_cols: list[str] | None = None,
) -> None:
    """`id_end` = exclusive doc_id high-water mark of this generation.
    Defaults to base + n_docs (dense streamed batches). Compaction MUST
    pass the max of its inputs' id_ends: its post-drop row count
    understates the id range (tombstoned bodies kept their ids), and a
    next-free-id derived from counts would reuse live ids.
    `delete_only` marks a tombstones-without-index generation.
    `filter_cols` records which metadata columns were indexed as
    filter-term posting lists, so serving can reject a filter the
    generation cannot answer (a generation missing the filter's posting
    list would silently exclude ALL its docs from filtered results)."""
    rec = {
        "gen": int(gen),
        "base": int(base),
        "n_docs": int(n_docs),
        "id_end": int(id_end if id_end is not None else base + n_docs),
    }
    if replaces:
        rec["replaces"] = [int(g) for g in replaces]
    if delete_only:
        rec["delete_only"] = True
    if filter_cols is not None:
        rec["filter_cols"] = list(filter_cols)
    sidecar.write_json(f"{out_dir}/gens/gen_{gen}.json", rec)


def _next_free_doc_id(out_dir: str) -> int:
    """Doc-id high-water mark over the RAW manifest (superseded
    generations included — their id ranges live on inside compacted
    generations). NOT sum(n_docs): after a compaction that physically
    dropped tombstoned bodies, live count < id high-water mark, and a
    count-derived base would hand out ids already held by live docs
    (silently merging two documents' postings at serve time)."""
    return max((int(r["id_end"]) for r in _raw_generations(out_dir)), default=0)


def _next_negative_gen(out_dir: str) -> int:
    """Next id in the NEGATIVE generation namespace, shared by
    compaction and delete-only generations: streaming micro-batch ids
    are non-negative and grow without bound, so ANY positive
    out-of-band id would eventually equal an upcoming batch_id — the
    replay-idempotency check would then silently drop that whole batch.
    First out-of-band generation = -1, then -2, …"""
    return min(0, min((g["gen"] for g in _raw_generations(out_dir)), default=0)) - 1


def compact_generations(
    spark: SparkSession,
    out_dir: str,
    min_generations: int = 2,
    tier_fraction: float | None = None,
    positions: bool = False,
    **build_kwargs,
) -> dict:
    """LSM-style merge: union committed generations' docs tables
    (doc_ids already share one offset id space, so they pass through
    unchanged) into one new generation, rebuild a single index over it,
    and commit with `replaces=[old gens]` — ONE atomic manifest rename
    swaps readers over, with no double-serving window. Old generation
    directories become garbage reclaimed by `vacuum_generations`
    (jobs/vacuum_index.py) after an in-flight-reader grace window.

    `tier_fraction=None` (full compaction) merges EVERY generation.
    `tier_fraction=f` is the size-tiered policy a long-running stream
    needs: generations are grouped into SIMILAR-SIZE buckets (a
    generation joins a bucket when its n_docs lies within
    [f·avg, avg/f] of the bucket's running average — `_tier_buckets`),
    and the cheapest bucket with ≥2 members is merged. A steady stream
    of equal-size micro-batches therefore compacts (they share one
    bucket), while a big base generation sits alone until the merged
    younger tiers grow comparable — total write amplification O(log N),
    never an O(corpus) rewrite per batch. No mergeable bucket → no-op.
    Serving is unchanged either way (generation-merged statistics are
    associative), which the bitwise rank-identity pytest locks.

    Why it matters at scale: a streaming index accumulates a generation
    per micro-batch; serving cost grows with generation count (G× term
    dictionaries, G posting lists per term, weaker per-generation
    block-max bounds under merged stats). Compaction restores the
    single-index serving profile — the analog of the reference's
    periodic REINDEX over its ever-upserted Postgres tables.
    """
    from theoremsearch_spark.build import build_index

    if tier_fraction is not None and not 0.0 < tier_fraction < 1.0:
        raise ValueError(
            f"tier_fraction must be in (0, 1), got {tier_fraction}: at "
            "f >= 1 the [f*avg, avg/f] size-bucket membership interval is "
            "empty and compaction silently no-ops forever; f <= 0 merges "
            "arbitrarily different sizes"
        )
    all_gens = sorted(_generations(spark, out_dir), key=lambda g: g["gen"])
    if len(all_gens) < min_generations:
        return {"compacted": False, "generations": len(all_gens)}
    index_gens = [g for g in all_gens if not g.get("delete_only")]
    delete_gens = [g for g in all_gens if g.get("delete_only")]
    if tier_fraction is not None:
        # size buckets over INDEX generations only; delete-only
        # generations (tombstones, no bodies) ride along with any merge
        # for free — their tombstones resolve or carry like the rest
        buckets = _tier_buckets(index_gens, tier_fraction)
        mergeable = [b for b in buckets if len(b) >= max(2, min_generations)]
        if not mergeable:
            return {
                "compacted": False,
                "generations": len(all_gens),
                "selected": max((len(b) for b in buckets), default=0),
            }
        gens = sorted(
            min(mergeable, key=lambda b: sum(g["n_docs"] for g in b))
            + delete_gens,
            key=lambda g: g["gen"],
        )
    else:
        gens = all_gens
    if not [g for g in gens if not g.get("delete_only")]:
        return {"compacted": False, "generations": len(all_gens)}
    from theoremsearch_spark.query import _docs_reader, _load_id_ranges

    docs = None
    for g in gens:
        if g.get("delete_only"):
            continue
        path = _docs_path(out_dir, g["gen"])
        part = _docs_reader(spark, [_load_id_ranges(path)]).parquet(path)
        docs = part if docs is None else docs.unionByName(part)
    # Tombstone resolution — only the MERGED generations' tombstones are
    # touched (no cross-generation file surgery, so the one-rename
    # commit atomicity holds): dead ids pointing INTO the merge set are
    # physically dropped from the merged docs; tombstones pointing at
    # docs of UNMERGED generations are carried into the new generation's
    # tombstone file. An unmerged generation's tombstones that point
    # into the merge set stay valid too — the referenced doc_id simply
    # lives inside the compacted generation now and keeps being
    # excluded/corrected at serve time. A FULL compaction therefore
    # drops every body and clears every tombstone.
    carried = None
    tomb_paths = _tombstone_paths(out_dir, [g["gen"] for g in gens])
    if tomb_paths:
        dead = (
            spark.read.schema(TOMBSTONE_SCHEMA).parquet(*tomb_paths)
            .dropDuplicates(["doc_id"])
        )
        pre_drop = docs
        docs = pre_drop.join(dead.select("doc_id"), "doc_id", "left_anti")
        carried = dead.join(
            pre_drop.select("doc_id"), "doc_id", "left_anti"
        )
    new_gen = _next_negative_gen(out_dir)
    new_dir = f"{out_dir}/gen_{new_gen}"
    # range-partition by doc_id so the compacted files carry DISJOINT id
    # spans: the _id_ranges sidecar then gives serving's metadata joins
    # true point lookups on the biggest docs table in the root. One
    # extra range shuffle inside a job that already rewrites everything.
    (
        docs.repartitionByRange("doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(f"{new_dir}/docs")
    )
    from theoremsearch_spark.positions import _written_row_count
    from theoremsearch_spark.stats import footer_id_groups, write_id_range_manifest

    write_id_range_manifest(
        f"{new_dir}/docs", docs.schema, footer_id_groups(f"{new_dir}/docs")
    )
    docs = spark.read.schema(docs.schema).parquet(f"{new_dir}/docs")
    n = _written_row_count(spark, f"{new_dir}/docs", docs.schema)
    # preserve filter-term indexing across the rewrite: when every
    # merged generation RECORDED its filter_cols, re-derive the same
    # posting lists (the intersection — they should be identical) for
    # the compacted index and carry the record forward
    rec_fcols = [
        g.get("filter_cols") for g in gens if not g.get("delete_only")
    ]
    fcols: list[str] | None = None
    if rec_fcols and all(fc is not None for fc in rec_fcols):
        inter = set(rec_fcols[0])
        for fc in rec_fcols[1:]:
            inter &= set(fc)
        fcols = sorted(inter)
    bdocs, built_fcols = _with_filter_terms(docs, fcols)
    build_index(bdocs, f"{new_dir}/index", resume=False, **build_kwargs)
    if positions:
        from theoremsearch_spark.positions import build_positions

        build_positions(docs, f"{new_dir}/index")
    # carry the url key index forward: the compacted generation answers
    # future upsert batches' prior-version lookups from bucket reads too.
    # Hand-built roots whose docs never stored url/term_tfs can't build
    # one (and cannot be upserted into or deleted from)
    if {"url", "term_tfs"} <= set(docs.columns):
        _write_keyindex(_tombstone_rows(docs), "url", "ub", f"{new_dir}/keyindex")
    # ALWAYS record what the compacted index actually carries — when the
    # merged generations were unrecorded (hand-built roots whose
    # filter_terms never persisted to their docs tables), the rebuild
    # genuinely has no filter posting lists, and recording [] makes a
    # later filtered query fail LOUDLY at the serving guard instead of
    # silently returning empty/partial results
    if carried is not None:
        _write_tombstones(carried, f"{new_dir}/tombstones")
    commit_generation(
        out_dir, new_gen, base=0, n_docs=n, replaces=[g["gen"] for g in gens],
        # post-drop count understates the id range — preserve the inputs'
        # high-water mark so future batch ids never collide with live docs
        id_end=max(int(g["id_end"]) for g in gens),
        filter_cols=built_fcols,
    )
    return {"compacted": True, "generation": new_gen, "n_docs": n,
            "replaced": [g["gen"] for g in gens]}


def vacuum_generations(
    out_dir: str, min_age_seconds: float = 0.0, dry_run: bool = False
) -> dict:
    """Physically delete generation directories superseded by a
    compaction — the space-reclaim half of the LSM lifecycle
    (`compact_generations` swaps readers atomically and leaves the old
    dirs as garbage; without a vacuum, every compaction DOUBLES the
    stored bytes of the merged span and a long-running streamed root
    leaks disk forever). Reference analog: the reference physically
    DELETEs replaced rows in the same transaction as the re-insert
    (/root/reference/ec2/parse_arxiv_papers/__main__.py:269-283); here
    deletion is deferred so in-flight readers finish first.

    Safety:
      - Only generations named in a committed manifest's `replaces`
        list are touched — by construction `_generations` never serves
        them again. The manifest JSON records are KEPT, so replaying a
        compacted-away micro-batch still hits the raw-manifest
        idempotency skip.
      - `min_age_seconds` is the in-flight-reader window: a superseded
        dir is removed only when the manifest that replaced it is at
        least this old (a reader that planned its multi-path scan
        before the swap may still be reading old files). Pure
        driver-side filesystem work — no Spark jobs.

    Returns {"vacuumed": [gen, ...], "kept_young": [gen, ...],
    "bytes_freed": int}; already-removed dirs are skipped silently, so
    repeated vacuums are no-ops. `dry_run=True` runs the SAME selection
    (including the grace window) but deletes nothing — the preview can
    never disagree with what a real run would do."""
    import os
    import shutil
    import time

    # superseded gen -> commit time of the NEWEST manifest replacing it
    # (chained compactions may name a gen more than once; age from the
    # latest swap is the conservative choice)
    swap_time: dict[int, float] = {}
    for r in _raw_generations(out_dir):
        for g in r.get("replaces", []):
            try:
                mt = os.path.getmtime(f"{out_dir}/gens/gen_{r['gen']}.json")
            except OSError:
                continue
            swap_time[int(g)] = max(swap_time.get(int(g), 0.0), mt)

    now = time.time()
    vacuumed: list[int] = []
    kept_young: list[int] = []
    freed = 0
    for g, mt in sorted(swap_time.items()):
        gd = f"{out_dir}/gen_{g}"
        if not os.path.isdir(gd):
            continue
        if now - mt < min_age_seconds:
            kept_young.append(g)
            continue
        for root, _dirs, files in os.walk(gd):
            for f in files:
                try:
                    freed += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        if not dry_run:
            shutil.rmtree(gd)
        vacuumed.append(g)
    out = {"vacuumed": vacuumed, "kept_young": kept_young, "bytes_freed": freed}
    if dry_run:
        out["dry_run"] = True
    return out


def _with_filter_terms(docs: DataFrame, filter_cols) -> tuple[DataFrame, list[str]]:
    """Attach the filter_terms array column (col=value posting-list
    terms, reference R3) for the given metadata columns; returns the
    frame and the columns actually present."""
    cols = [c for c in (filter_cols or ()) if c in docs.columns]
    if cols:
        docs = docs.withColumn(
            "filter_terms",
            F.array(
                *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in cols]
            ),
        )
    return docs, cols


# the columns `_tombstone_rows` projects; serving reads tombstones/ with
# this schema (no footer-inference job). Hand-built roots that wrote no
# url read it as NULL — only doc_id, doc_len and terms are ever used.
TOMBSTONE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("doc_len", T.IntegerType(), True),
        T.StructField("terms", T.ArrayType(T.StringType(), True), True),
    ]
)
_URL_SCHEMA = T.StructType([T.StructField("url", T.StringType(), True)])


def _tombstone_rows(docs_df: DataFrame) -> DataFrame:
    """Project a docs frame into tombstone rows: (doc_id, url, doc_len,
    distinct terms parsed out of the stored "term:tf …" string) — the
    ONE tombstone schema both the upsert path and delete_documents
    write, and the serving-side stat corrections read."""
    return docs_df.select(
        "doc_id",
        "url",
        "doc_len",
        F.array_distinct(
            F.transform(
                F.split("term_tfs", " "),
                lambda e: F.substring_index(e, ":", 1),
            )
        ).alias("terms"),
    )


def delete_documents(spark: SparkSession, out_dir: str, urls) -> dict:
    """Pure DELETE (no replacement): commit a DELETE-ONLY generation
    holding just tombstones for every live doc whose url is in `urls` —
    the un-paired half of the reference's DELETE WHERE id IN (…) +
    insert cycle (/root/reference/ec2/rds/upsert.py:4-27 row deletes).

    A delete-only generation has no docs/index directories; it carries
    `delete_only: true` in the manifest so serving skips it when
    building index scan paths but still applies its tombstones (and
    stat corrections). It lives in the NEGATIVE generation namespace
    (shared with compaction) — a positive id would collide with an
    upcoming streaming batch_id and make the replay-idempotency check
    silently drop that whole batch. Compaction resolves it like any
    tombstone source. Deleting nothing (empty url set, or every target
    already tombstoned) commits nothing. Returns
    {"generation": id | None, "deleted": n}."""
    import shutil

    import pandas as pd

    from theoremsearch_spark.query import local_frame

    urls = list(urls)
    if not urls:
        return {"generation": None, "deleted": 0}
    gens = sorted(_generations(spark, out_dir), key=lambda g: g["gen"])
    if not gens:
        raise ValueError(f"no committed generations under {out_dir}")
    url_df = local_frame(spark, _URL_SCHEMA, pd.DataFrame({"url": urls}))
    dead = _live_prior_versions(spark, out_dir, gens, url_df, _listed_buckets(url_df, "url"))
    if dead is None:
        raise ValueError(f"only delete-only generations under {out_dir}")
    new_gen = _next_negative_gen(out_dir)
    gen_dir = f"{out_dir}/gen_{new_gen}"
    n_dead = _write_tombstones(dead, f"{gen_dir}/tombstones")
    if not n_dead:
        # nothing newly dead → no generation: empty delete-only commits
        # would grow the manifest forever, one per no-op run
        shutil.rmtree(gen_dir, ignore_errors=True)
        return {"generation": None, "deleted": 0}
    commit_generation(
        out_dir, new_gen, base=0, n_docs=0,
        id_end=_next_free_doc_id(out_dir), delete_only=True,
    )
    return {"generation": new_gen, "deleted": n_dead}


def _append_generation(
    spark: SparkSession,
    out_dir: str,
    gen: int,
    documents: DataFrame,
    *,
    filter_cols: list[str] | None = None,
    positions: bool = False,
    **build_kwargs,
) -> None:
    """Write the (non-empty) `documents` as generation `gen` of the root
    at `out_dir` and commit it: out_dir/gen_<gen>/{docs,index,keyindex}
    with doc_ids from the root's next free id, plus a positions sidecar
    when `positions`. Upsert semantics (the reference's replace-document
    — DELETE WHERE paper_id IN batch + insert, /root/reference/ec2/
    parse_arxiv_papers/__main__.py:269-283): the live prior versions of
    every url the batch re-ingests are TOMBSTONED in gen_<gen>/tombstones.
    A tombstone row carries (doc_id, doc_len, distinct terms) so serving
    corrects N/avgdl/df exactly without re-reading old docs — LSM
    delete-tombstone physics; compaction drops the bodies. `filter_cols`
    are indexed as filter-term posting lists and recorded."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import ID_RANGES_MANIFEST, prepare_docs

    gens = _generations(spark, out_dir)
    # resolved first, so a root whose prior versions cannot be found is
    # refused before anything is written; a root's first batch has no
    # prior versions to look up, so it runs no bucket job
    urls = documents.select("url").distinct()
    buckets = _touched_buckets(urls, "url") if gens else []
    dead = _live_prior_versions(spark, out_dir, gens, urls, buckets)
    base = _next_free_doc_id(out_dir)
    gen_dir = f"{out_dir}/gen_{gen}"
    docs = prepare_docs(documents, gen_dir, id_base=base)
    # prepare_docs has verified that the ids tile [base, base + n)
    # densely, so the recorded per-file spans sum to n — no count job
    spans = sidecar.require_json(f"{gen_dir}/docs/{ID_RANGES_MANIFEST}")["files"]
    n = sum(int(f["hi"]) - int(f["lo"]) + 1 for f in spans)
    docs, fcols = _with_filter_terms(docs, filter_cols)
    build_index(docs, f"{gen_dir}/index", resume=False, **build_kwargs)
    if positions:
        # per-generation positions sidecar: phrase_topk_all_generations
        # verifies adjacency without doc fetch when EVERY committed
        # generation carries one
        from theoremsearch_spark.positions import build_positions

        build_positions(docs, f"{gen_dir}/index")
    _write_keyindex(_tombstone_rows(docs), "url", "ub", f"{gen_dir}/keyindex")
    if dead is not None:
        _write_tombstones(dead, f"{gen_dir}/tombstones")
    commit_generation(out_dir, gen, base, n, filter_cols=fcols)


def incremental_index(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    filter_cols: list[str] | None = None,
    positions: bool = False,
    **build_kwargs,
):
    """Stream documents (parquet files landing in input_dir) into an
    ever-growing index at out_dir. Each micro-batch becomes one
    generation (`_append_generation`): out_dir/gen_<id>/{docs,index} —
    append-only, atomic per batch, replayable from the streaming
    checkpoint. doc_ids are offset by the root's id high-water mark
    (gens manifest), so generations share one id space and merge at
    query time like salted segments do.

    `filter_cols`: metadata columns indexed as filter-term posting lists
    (col=value — reference R3), recorded in each generation's manifest;
    keep it CONSTANT for the life of a root — topk_all_generations
    rejects filters any generation didn't index. Unknown column names
    are rejected HERE, at ingest time: silently narrowing would only
    surface days later as an unanswerable filter."""
    known = {f.name for f in DOCUMENTS_SCHEMA.fields} - {"html", "text"}
    bad = [c for c in (filter_cols or ()) if c not in known]
    if bad:
        raise ValueError(
            f"filter_cols {bad} not in the documents schema "
            f"(indexable metadata columns: {sorted(known)})"
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # idempotency consults the RAW manifest: a replayed batch whose
        # generation was meanwhile compacted away must still be skipped
        # (its docs live inside the compacted generation)
        if any(g["gen"] == batch_id for g in _raw_generations(out_dir)):
            return  # replay of a committed batch — idempotent skip
        _append_generation(
            spark, out_dir, batch_id, batch_df,
            filter_cols=filter_cols, positions=positions, **build_kwargs,
        )

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    return stream


def _tombstone_artifact(dead: DataFrame, count_terms=None):
    """ONE executor-side job over the (deduped) tombstone rows →
    (PackedDocIdSet mask | None, n_dead, doc_len sum, {term: dead df}).
    Each task sorts its own ids and packs one delta-varbyte chunk; the
    driver receives one compressed blob + a handful of count rows PER
    PARTITION — never a Row per tombstone (the previous `.collect()`
    of (doc_id, doc_len) rows put O(tombstones) through the driver at
    serve time).

    `count_terms` (the batch's term set) folds the per-term dead-doc
    df correction into the SAME pass: it previously ran as a second
    job that re-scanned and re-dedup-shuffled the tombstones; here
    each task tallies its partition's matching terms into a small dict
    (bounded by |batch terms|) emitted as count rows."""
    import numpy as np
    import pandas as pd

    from theoremsearch_spark.codec import PackedDocIdSet

    terms = set(count_terms or ())
    cols = ["doc_id", "doc_len"] + (["terms"] if terms else [])

    def pack(batches):
        ids, dl = [], 0
        cnt: dict[str, int] = {}
        for pdf in batches:
            ids.append(pdf["doc_id"].to_numpy(dtype="int64"))
            dl += int(pdf["doc_len"].sum())
            if terms:
                for ts in pdf["terms"]:
                    for t in ts:
                        if t in terms:
                            cnt[t] = cnt.get(t, 0) + 1
        arr = np.concatenate(ids) if ids else np.empty(0, dtype="int64")
        out = []
        if arr.size:
            arr.sort()
            out.append(("", 0, int(arr.size), dl, PackedDocIdSet.pack_sorted(arr)))
        out.extend((t, c, 0, 0, None) for t, c in cnt.items())
        if out:
            yield pd.DataFrame(
                out, columns=["term", "cnt", "n", "dl", "packed"]
            )

    rows = (
        dead.select(*cols)
        .mapInPandas(pack, schema="term string, cnt long, n long, dl long, packed binary")
        .collect()
    )
    dfc: dict[str, int] = {}
    for r in rows:
        if r["term"]:
            dfc[r["term"]] = dfc.get(r["term"], 0) + int(r["cnt"])
    mask_rows = [r for r in rows if r["n"]]
    n = sum(int(r["n"]) for r in mask_rows)
    if not n:
        return None, 0, 0, {}
    mask = PackedDocIdSet([bytes(r["packed"]) for r in mask_rows], n)
    return mask, n, sum(int(r["dl"]) for r in mask_rows), dfc


def open_root(spark: SparkSession, out_dir: str):
    """A generation root as a serving view (`query.ServeView`): every
    committed index generation, and the tombstone dirs of every
    committed generation. Delete-only generations carry tombstones but
    no index — they join the tombstone mask, never the index scans."""
    import os

    from theoremsearch_spark.build import load_index_meta
    from theoremsearch_spark.query import Generation, ServeView

    gens = sorted(_generations(spark, out_dir), key=lambda g: g["gen"])
    if not gens:
        raise ValueError(f"no committed generations under {out_dir}")
    view_gens = []
    for g in gens:
        if g.get("delete_only"):
            continue
        index = f"{out_dir}/gen_{g['gen']}/index"
        pos = f"{index}/positions"
        view_gens.append(Generation(
            int(g["gen"]), index, _docs_path(out_dir, g["gen"]),
            pos if os.path.isdir(pos) else None, load_index_meta(index),
            g.get("filter_cols"),
        ))
    if not view_gens:
        raise ValueError(f"only delete-only generations under {out_dir}")
    return ServeView(view_gens, _tombstone_paths(out_dir, [g["gen"] for g in gens]))


def topk_all_generations(
    spark: SparkSession, out_dir: str, queries, k: int = 10,
    filters=None, allowed_docs=None, max_batch: int = 0,
    mode: str = "or", not_terms=None, rank: bool = True,
):
    """Query across every committed generation with globally merged
    statistics (N, avgdl, df) — scores are identical to a from-scratch
    batch build over the union corpus. Tombstoned (upserted-away or
    deleted) doc versions are excluded, and N, avgdl and per-term df
    are corrected as if they were gone; each generation's stored
    `index_meta.json` statistics stay stale until compaction, standard
    LSM behavior.

    `filters` (reference R3) work exactly as in single-index topk;
    a filter on a column some generation's manifest records as not
    indexed is rejected. `max_batch` serves the batch in bounded chunks
    over one shared prep — the tombstone mask is built and broadcast
    once. See `query.serve_topk` for the other arguments."""
    from theoremsearch_spark.query import serve_topk

    return serve_topk(
        spark, open_root(spark, out_dir), queries, k, filters=filters,
        allowed_docs=allowed_docs, max_batch=max_batch, mode=mode,
        not_terms=not_terms, rank=rank,
    )


def phrase_topk_all_generations(
    spark: SparkSession, out_dir: str, queries, k: int = 10,
    filters=None, text_col: str = "extracted_text",
    snippet_pad: int | None = None,
    use_positions: bool | None = None,
) -> DataFrame:
    """Exact-phrase top-k on a streamed/upserted multi-generation root:
    `query.serve_phrase` over the root's view. Positional verification
    reads the per-generation sidecars (doc_ids are globally unique via
    the generation offsets, and candidates are already
    tombstone-filtered, so stale versions' positions are unreachable);
    doc-text verification reads the per-generation docs tables.
    `use_positions`: None=auto (every generation has a sidecar),
    True=require sidecars (raises if any generation lacks one),
    False=doc-text verify."""
    from theoremsearch_spark.query import serve_phrase

    return serve_phrase(
        spark, open_root(spark, out_dir), queries, k, filters=filters,
        text_col=text_col, snippet_pad=snippet_pad, use_positions=use_positions,
    )
