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
  - `windowed_event_counts`: watermarked tumbling-window aggregation —
    the standard late-data-tolerant streaming rollup over the `events`
    shape (event_id, ts, user_id, event_type, value).

Scale notes: foreachBatch reuses the exact batch operators, so the
micro-batch path inherits the same shuffle/skew handling; the window
agg keeps state bounded by the watermark (10 min here), which is what
makes it viable on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

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
    batch whose generation was compacted away is still ingested."""
    import glob
    import json

    raw = []
    for f in sorted(glob.glob(f"{out_dir}/gens/gen_*.json")):
        with open(f) as fh:
            raw.append(json.load(fh))
    return raw


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
    import os

    gd = f"{out_dir}/gen_{gen}"
    return f"{gd}/docs_offset" if os.path.exists(f"{gd}/docs_offset") else f"{gd}/docs"


def _tombstone_paths(out_dir: str, gen_ids) -> list[str]:
    import os

    return [
        p
        for g in gen_ids
        if os.path.isdir(p := f"{out_dir}/gen_{g}/tombstones")
    ]


# url-hash key-index bucket count per generation. Recorded in each
# generation's manifest (`key_buckets`), so changing the constant only
# affects NEW generations — readers use the recorded per-gen value.
KEY_BUCKETS = 64


def _url_bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(int(n_buckets))).cast("int")


def _write_keyindex(docs_df: DataFrame, path: str, n_buckets: int = KEY_BUCKETS) -> None:
    """Persist a generation's url→doc key index: tombstone-shaped rows
    (doc_id, url, doc_len, terms) hash-partitioned into `ub=<n>` dirs by
    `pmod(xxhash64(url), n_buckets)` — the same key-hash-bucket layout
    as sources/sinks.upsert_parquet. An ingesting micro-batch then reads
    ONLY the buckets its urls hash into (O(u/B) of the corpus instead of
    an O(corpus) docs scan per batch — the reference analog is a keyed
    DELETE, not a table scan: /root/reference/ec2/parse_arxiv_papers/
    __main__.py:269-283). Cost: one extra bounded write per generation
    (≈ the term_tfs column again), amortized over every future batch
    that would otherwise rescan this generation."""
    rows = _tombstone_rows(docs_df).withColumn(
        "ub", _url_bucket(F.col("url"), n_buckets)
    )
    rows.repartition("ub").write.mode("overwrite").partitionBy("ub").parquet(path)


def _prior_version_rows(
    spark: SparkSession, out_dir: str, gens: list[dict], urls_df: DataFrame
) -> DataFrame | None:
    """Tombstone-shaped rows (doc_id, url, doc_len, terms) of every LIVE
    doc version whose url is in `urls_df`. Generations that wrote a key
    index are read via exactly the `ub=` bucket dirs the batch's urls
    hash into (partition-level pruning, no docs-table access);
    generations without one (hand-built roots, pre-keyindex manifests)
    fall back to the column-pruned docs scan. Returns None ONLY when
    there are no prior index generations; "live generations exist but
    none of the requested urls' hash buckets are on disk" is a valid
    EMPTY result (a small generation materializes only the ub= dirs its
    urls fall in), not an error — conflating the two made deletes of
    never-ingested urls crash or succeed depending on which bucket the
    url hashed to."""
    import os

    live = [g for g in gens if not g.get("delete_only")]
    if not live:
        return None
    with_ki = [
        g for g in live if os.path.isdir(f"{out_dir}/gen_{g['gen']}/keyindex")
    ]
    without = [g for g in live if g not in with_ki]
    parts: list[DataFrame] = []
    if with_ki:
        # ≤ max(key_buckets) tiny ints to the driver — which bucket dirs
        # this batch's urls can possibly live in, per recorded bucket count
        moduli = sorted({int(g.get("key_buckets", KEY_BUCKETS)) for g in with_ki})
        touched: dict[int, set[int]] = {
            m: {
                r["ub"]
                for r in urls_df.select(
                    _url_bucket(F.col("url"), m).alias("ub")
                ).distinct().collect()
            }
            for m in moduli
        }
        paths = [
            p
            for g in with_ki
            for b in sorted(touched[int(g.get("key_buckets", KEY_BUCKETS))])
            if os.path.isdir(p := f"{out_dir}/gen_{g['gen']}/keyindex/ub={b}")
        ]
        if paths:
            parts.append(
                spark.read.parquet(*paths)
                .join(F.broadcast(urls_df), "url")
                .select("doc_id", "url", "doc_len", "terms")
            )
    if without:
        old = spark.read.parquet(
            *[_docs_path(out_dir, g["gen"]) for g in without]
        )
        parts.append(_tombstone_rows(old.join(F.broadcast(urls_df), "url")))
    if not parts:
        from theoremsearch_spark.query import local_frame

        return local_frame(spark, TOMBSTONE_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def commit_generation(
    out_dir: str,
    gen: int,
    base: int,
    n_docs: int,
    replaces: list[int] = (),
    id_end: int | None = None,
    delete_only: bool = False,
    filter_cols: list[str] | None = None,
    key_buckets: int | None = None,
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
    import json
    import os

    os.makedirs(f"{out_dir}/gens", exist_ok=True)
    tmp = f"{out_dir}/gens/.gen_{gen}.json.tmp"
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
    if key_buckets is not None:
        rec["key_buckets"] = int(key_buckets)
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    os.rename(tmp, f"{out_dir}/gens/gen_{gen}.json")


def _gen_id_end(rec: dict) -> int:
    """Exclusive id high-water mark of one manifest record, with the
    pre-id_end-manifest fallback (base + n_docs — correct for streamed
    generations, the only kind old manifests contain)."""
    if rec.get("id_end") is not None:
        return int(rec["id_end"])
    return int(rec["base"]) + int(rec["n_docs"])


def _next_free_doc_id(out_dir: str) -> int:
    """Doc-id high-water mark over the RAW manifest (superseded
    generations included — their id ranges live on inside compacted
    generations). NOT sum(n_docs): after a compaction that physically
    dropped tombstoned bodies, live count < id high-water mark, and a
    count-derived base would hand out ids already held by live docs
    (silently merging two documents' postings at serve time)."""
    return max((_gen_id_end(r) for r in _raw_generations(out_dir)), default=0)


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
    docs = None
    for g in gens:
        if g.get("delete_only"):
            continue
        part = spark.read.parquet(_docs_path(out_dir, g["gen"]))
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
        dead = spark.read.parquet(*tomb_paths).dropDuplicates(["doc_id"])
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
    from theoremsearch_spark.stats import write_id_range_manifest

    write_id_range_manifest(f"{new_dir}/docs")
    docs = spark.read.parquet(f"{new_dir}/docs")
    n = docs.count()
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
    # one — they stay on the pruned-docs-scan fallback.
    has_keyindex = {"url", "term_tfs"} <= set(docs.columns)
    if has_keyindex:
        _write_keyindex(docs, f"{new_dir}/keyindex")
    # ALWAYS record what the compacted index actually carries — when the
    # merged generations were unrecorded (hand-built roots whose
    # filter_terms never persisted to their docs tables), the rebuild
    # genuinely has no filter posting lists, and recording [] makes a
    # later filtered query fail LOUDLY at the serving guard instead of
    # silently returning empty/partial results
    if carried is not None:
        carried.write.mode("overwrite").parquet(f"{new_dir}/tombstones")
    commit_generation(
        out_dir, new_gen, base=0, n_docs=n, replaces=[g["gen"] for g in gens],
        # post-drop count understates the id range — preserve the inputs'
        # high-water mark so future batch ids never collide with live docs
        id_end=max(_gen_id_end(g) for g in gens),
        filter_cols=built_fcols,
        key_buckets=KEY_BUCKETS if has_keyindex else None,
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

    urls = list(urls)
    if not urls:
        return {"generation": None, "deleted": 0}
    gens = sorted(_generations(spark, out_dir), key=lambda g: g["gen"])
    if not gens:
        raise ValueError(f"no committed generations under {out_dir}")
    url_df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    # same pruned lookup as upsert ingestion: key-index bucket reads for
    # generations that have one, docs-scan fallback otherwise
    dead = _prior_version_rows(spark, out_dir, gens, url_df)
    if dead is None:
        raise ValueError(f"only delete-only generations under {out_dir}")
    # already-tombstoned versions must not be re-corrected
    tomb_paths = _tombstone_paths(out_dir, [g["gen"] for g in gens])
    if tomb_paths:
        prior = spark.read.schema(TOMBSTONE_SCHEMA).parquet(*tomb_paths).select("doc_id")
        dead = dead.join(prior, "doc_id", "left_anti")
    new_gen = _next_negative_gen(out_dir)
    gen_dir = f"{out_dir}/gen_{new_gen}"
    dead.write.mode("overwrite").parquet(f"{gen_dir}/tombstones")
    n_dead = spark.read.schema(TOMBSTONE_SCHEMA).parquet(f"{gen_dir}/tombstones").count()
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
    generation: out_dir/gen_<id>/{docs,index} — append-only, atomic per
    batch, replayable from the streaming checkpoint. doc_ids are offset
    by the running corpus size (gens manifest), so generations share one
    id space and merge at query time like salted segments do.

    `filter_cols`: metadata columns indexed as filter-term posting lists
    (col=value — reference R3), recorded in each generation's manifest;
    keep it CONSTANT for the life of a root — topk_all_generations
    rejects filters any generation didn't index. Unknown column names
    are rejected HERE, at ingest time: silently narrowing would only
    surface days later as an unanswerable filter."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs

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
        gens = _generations(spark, out_dir)
        base = _next_free_doc_id(out_dir)
        gen_dir = f"{out_dir}/gen_{batch_id}"
        docs = prepare_docs(batch_df, gen_dir)
        if base:
            docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(base))
            docs.write.mode("overwrite").parquet(f"{gen_dir}/docs_offset")
            # id-range sidecar for the offset table too, so the --gens
            # metadata join gets file-level pruning on streamed
            # generations (prepare_docs wrote one for gen_dir/docs, but
            # serving reads docs_offset when it exists)
            from theoremsearch_spark.stats import write_id_range_manifest

            write_id_range_manifest(f"{gen_dir}/docs_offset")
            docs = spark.read.parquet(f"{gen_dir}/docs_offset")
        n = docs.count()
        docs, fcols = _with_filter_terms(docs, filter_cols)
        build_index(docs, f"{gen_dir}/index", resume=False, **build_kwargs)
        if positions:
            # per-generation positions sidecar: phrase_topk_all_
            # generations verifies adjacency without doc fetch when
            # EVERY committed generation carries one
            from theoremsearch_spark.positions import build_positions

            build_positions(docs, f"{gen_dir}/index")
        # url→doc key index for THIS generation: future batches that
        # re-ingest any of these urls read only the hash buckets their
        # urls land in, never this generation's docs table
        _write_keyindex(docs, f"{gen_dir}/keyindex")
        # upsert semantics (the reference's S12 replace-document —
        # DELETE WHERE paper_id IN batch + insert, /root/reference/
        # ec2/parse_arxiv_papers/__main__.py:269-283): a re-ingested
        # url TOMBSTONES its older doc versions. The tombstone row
        # carries (doc_id, doc_len, distinct terms) so serving can
        # correct N/avgdl/df exactly without re-reading old docs —
        # LSM delete-tombstone physics; compaction drops the bodies.
        # Prior versions come from the generations' url-hash KEY
        # INDEXES (O(u/B) bucket reads per batch), not a docs scan —
        # an O(corpus) pass per micro-batch at 100 TB otherwise.
        batch_urls = docs.select("url").distinct()
        dead = _prior_version_rows(spark, out_dir, gens, batch_urls)
        if dead is not None:
            # anti-join prior tombstones: a doc version tombstoned by an
            # earlier batch must not be tombstoned AGAIN — a duplicate
            # would survive a tiered compaction that resolves only the
            # merged generations' tombstone files and then double-
            # subtract that doc from the serving stat corrections
            prior_paths = _tombstone_paths(out_dir, [g["gen"] for g in gens])
            if prior_paths:
                prior = (
                    spark.read.schema(TOMBSTONE_SCHEMA)
                    .parquet(*prior_paths)
                    .select("doc_id")
                )
                dead = dead.join(prior, "doc_id", "left_anti")
            dead.write.mode("overwrite").parquet(f"{gen_dir}/tombstones")
        commit_generation(
            out_dir, batch_id, base, n, filter_cols=fcols,
            key_buckets=KEY_BUCKETS,
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

    from theoremsearch_spark.query import Generation, ServeView, load_index_meta

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
            pos if os.path.isdir(pos) else None, load_index_meta(spark, index),
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
    are corrected as if they were gone; stored per-generation doc_stats
    stay stale until compaction, standard LSM behavior.

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


def windowed_event_counts(events_stream: DataFrame) -> DataFrame:
    """Watermarked 1-minute tumbling windows per event_type: count +
    sum(value). Late rows beyond 10 minutes are dropped (bounded state)."""
    return (
        events_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize_events(events_stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session windows per user: a session closes after `gap_minutes` of
    inactivity (F.session_window — stateful, watermark-bounded)."""
    return (
        events_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


RUNNING_TOTALS_SCHEMA = (
    "user_id long, n_events long, sum_value double, batches_seen int"
)
_RUNNING_STATE_SCHEMA = "n long, s double, b int"


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    RUNNING totals emitted after every micro-batch — the shape built-in
    aggregations can't express in update-per-batch form with arbitrary
    per-key state (here: count, sum, and how many batches touched the
    key). State lives in the state store, checkpointed with the query;
    at 100 TB/day the state is one tiny tuple per user, not per event.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s, b = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        b += 1
        state.update((n, s, b))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "batches_seen": [b],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        RUNNING_TOTALS_SCHEMA,
        _RUNNING_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
