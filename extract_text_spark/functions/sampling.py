"""Deterministic sampling operators for training-data pipelines.

Sampling at 100 TB must be reproducible across reruns, engines and
partitionings — so no RNG state: membership is a pure function of the
row key (md5-derived uniform hash), exactly like the md5-derived
hyperplanes in dedup.embedding LSH. ``df.sample()`` is seed-stable only
per partitioning; this is stable, full stop, and has an exact SQL twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_MOD = 1_000_000


def hash_bucket_col(id_col: str | Column, salt: str = "") -> Column:
    """Uniform bucket in [0, 1e6) from md5(salt:id) — first 8 hex chars,
    portable to DuckDB as ('0x'||substr(md5(...),1,8))::BIGINT % 1000000."""
    key = F.concat(F.lit(salt), F.lit(":"),
                   (F.col(id_col) if isinstance(id_col, str) else id_col)
                   .cast("string"))
    return (F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
            .cast("long") % _MOD)


def _case_map(col: str, mapping: dict[str, int], default: int) -> Column:
    """Literal when-chain over a small {value: int} map with a default —
    the broadcast-free form both samplers use for their handful of
    strata/sources."""
    out = None
    for name, val in mapping.items():
        cond = F.col(col) == name
        out = F.when(cond, val) if out is None else out.when(cond, val)
    return out.otherwise(default) if out is not None else F.lit(default)


def stratified_sample(df: DataFrame, fracs_milli: dict[str, int],
                      strata_col: str = "source",
                      id_col: str = "doc_id",
                      default_milli: int = 0) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its hash bucket
    falls below the stratum's rate (in millionths). The rate map rides the
    plan as a literal CASE (broadcast-free for the usual handful of
    strata); membership never shuffles — it is a filter pushed at the
    scan, so at 10^12 docs the sample never materializes the reject set.
    """
    rate = _case_map(strata_col, fracs_milli, default_milli)
    bucket = hash_bucket_col(id_col, salt="strat")
    return df.where(bucket < rate)


def split_assign(df: DataFrame, holdout_milli: dict[str, int],
                 id_col: str = "doc_id", salt: str = "split",
                 train_name: str = "train") -> DataFrame:
    """Deterministic train/val/test assignment — the eval-split tier
    every training pipeline needs BEFORE dedup/decontamination so the
    held-out sets stay stable across reruns and corpus growth. Each
    holdout split owns a cumulative range of the md5 hash-bucket space
    (in millionths, insertion order); everything above the ranges is
    ``train_name``. A document's split depends only on (salt, id): new
    data never reshuffles old assignments, and re-running is a no-op.

    Scale shape: the assignment is one in-row expression (a literal
    CASE over the bucket) — no shuffle, no join, no driver state; at
    10^12 docs the split column costs one md5 per row at the scan."""
    bucket = hash_bucket_col(id_col, salt=salt)
    cum, expr = 0, None
    for name, milli in holdout_milli.items():
        cum += milli
        cond = bucket < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    if cum > _MOD:
        raise ValueError(f"holdout fractions sum past 1e6: {cum}")
    split = (expr.otherwise(train_name) if expr is not None
             else F.lit(train_name))
    return df.withColumn("split", split)


def mixture_sample(df: DataFrame, target_counts: dict[str, int],
                   source_col: str = "source",
                   id_col: str = "doc_id") -> DataFrame:
    """Training-mixture construction: deterministically sample each
    source toward an absolute per-source document target (the
    Pile/LLaMA-style "domain mixing weights" step, expressed as target
    counts so the arithmetic is exact integers end-to-end).

    acceptance rate (millionths) = min(1e6, target * 1e6 div source_count)
    — a source below its target keeps everything (rate capped at 1.0);
    membership = md5 bucket < rate, reproducible across reruns, engines
    and partitionings like every sampler here.

    100 TB shape: one map-side-combinable count per source (domains are
    few — a handful of rows), broadcast-joined back, then a row-local
    membership filter right after the broadcast join; the reject set
    never shuffles or materializes and nothing large moves. Sources
    absent from ``target_counts`` get target 0 (dropped — an explicit
    mixture is a whitelist)."""
    counts = df.groupBy(source_col).agg(F.count("*").alias("_mix_n"))
    target = _case_map(source_col, target_counts, 0)
    rate = F.least(
        F.lit(_MOD).cast("long"),
        F.call_function("div", target.cast("long") * _MOD,
                        F.col("_mix_n")))
    bucket = hash_bucket_col(id_col, salt="mix")
    return (df.join(F.broadcast(counts), source_col)
              .where(bucket < rate)
              .drop("_mix_n"))


def pack_sequences(df: DataFrame, token_col: str, budget: int,
                   id_col: str = "doc_id",
                   buckets: int = 1024) -> DataFrame:
    """Token-budget sequence packing (training-batch construction):
    contiguous greedy packing of documents into bins of ``budget`` tokens
    — the concat-then-chunk semantics LLM pretraining pipelines use.

    Global first-fit is inherently sequential, so the scale form packs
    WITHIN uniform md5 hash buckets: each bucket packs independently in
    parallel (one shuffle on the bucket key + an in-partition sort), and
    bins are globally identified by (pack_bucket, pack_bin). That is the
    shape a 10^12-doc job needs anyway — bins feed parallel trainers.
    Within a bucket, docs pack in deterministic id order:
    ``pack_bin = exclusive-cumsum(tokens) // budget`` (an oversized doc
    overflows its own bin rather than being dropped)."""
    from pyspark.sql.window import Window
    bucket = hash_bucket_col(id_col, salt="pack") % buckets
    out = df.withColumn("pack_bucket", bucket)
    w = Window.partitionBy("pack_bucket").orderBy(id_col)
    cum_excl = F.sum(token_col).over(w) - F.col(token_col)
    # exact integral division (SQL `div`): a double floor would lose
    # exactness once a bucket's cumulative tokens pass 2^53 — precisely
    # the scale this operator exists for. Matches DuckDB's `//`.
    return out.withColumn(
        "pack_bin",
        F.call_function("div", cum_excl, F.lit(budget)).cast("long"))


def dsir_sample(df: DataFrame, target: DataFrame, nbuckets: int = 1 << 20,
                mult_milli: int = 1_000_000,
                id_col: str = "doc_id", text_col: str = "text",
                target_id_col: str | None = None,
                cache_registry: list | None = None) -> DataFrame:
    """DSIR-shaped importance resampling (Xie et al. 2023,
    arXiv:2302.03169): select raw-corpus docs toward a small TARGET
    domain sample by importance weights estimated from hashed bag-of-
    n-gram statistics — the data-selection tier between heuristic
    filters and full model scoring.

    Exact-integer form (every value bit-identical to the DuckDB twin):

    * features: the classifier's hashed unigram+bigram space
      (text_stats.hashed_features — one shared definition);
    * per-bucket smoothed probability ratio, evaluated in the FIXED
      staged order ``stage1 = ((ct+1)*1e6) div (cr+1)`` then
      ``ratio = (stage1*(Nr+B)) div (Nt+B)`` — millionths of
      p_target(b)/p_raw(b) with add-1 smoothing. The paper's
      log-likelihood-ratio SUM becomes a MEAN of these integer ratios:
      same direction, no transcendentals (the ta_classifier trick). At
      petabyte counts the first product needs DECIMAL(38) headroom;
      at this width BIGINT is exact.
    * resample: keep iff the doc's deterministic hash bucket falls
      below ``min(1e6, importance*mult/1e6)`` — reproducible across
      reruns and partitionings like every sampler here.

    Scale shape: two combinable count aggregations (outputs bounded by
    ``nbuckets``); the tiny count tables are persisted so their totals
    (driver scalars, k-means-style bounded state) do not rescan the
    corpus; the weight table broadcasts — the corpus never shuffles for
    the join; one map-side-combined groupBy(id) for the doc mean.

    Output: (id_col, n_features, importance_milli, keep).
    """
    from pyspark.storagelevel import StorageLevel
    from .text_stats import hashed_features
    div = lambda a, b: F.call_function("div", a, b)
    feats = hashed_features(df, nbuckets, id_col, text_col)
    tfeats = hashed_features(target, nbuckets, target_id_col or id_col,
                             text_col)
    cr = (feats.groupBy("bucket").agg(F.count("*").cast("long").alias("cr"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    ct = (tfeats.groupBy("bucket").agg(F.count("*").cast("long").alias("ct"))
          .persist(StorageLevel.MEMORY_AND_DISK))
    if cache_registry is not None:
        # per-shard drivers call .unpersist() on each registered table
        # once the action has run
        cache_registry.extend([cr, ct])
    n_raw = cr.agg(F.sum("cr")).collect()[0][0] or 0
    n_tgt = ct.agg(F.sum("ct")).collect()[0][0] or 0
    norm_num, norm_den = n_raw + nbuckets, n_tgt + nbuckets
    default_ratio = (_MOD * norm_num) // norm_den   # unseen bucket: ct=cr=0
    w = (cr.join(ct, "bucket", "full").select(
            "bucket",
            div(div((F.coalesce("ct", F.lit(0)) + 1) * _MOD,
                    F.coalesce("cr", F.lit(0)) + 1) * F.lit(norm_num),
                F.lit(norm_den)).alias("ratio_milli")))
    scored = (feats.join(F.broadcast(w), "bucket", "left")
              .select("id", F.coalesce("ratio_milli",
                                       F.lit(default_ratio)).alias("r")))
    agg = (scored.groupBy("id")
           .agg(F.count("*").cast("long").alias("n_features"),
                div(F.sum("r"), F.count("*")).alias("importance_milli")))
    rate = F.least(F.lit(_MOD).cast("long"),
                   div(F.col("importance_milli") * mult_milli, F.lit(_MOD)))
    return agg.select(
        F.col("id").alias(id_col), "n_features", "importance_milli",
        (hash_bucket_col("id", salt="dsir") < rate).alias("keep"))


def exact_k_per_stratum(df: DataFrame, k: int,
                        strata_col: str = "source",
                        id_col: str = "doc_id",
                        candidate_bucket_limit: int | None = None
                        ) -> DataFrame:
    """EXACTLY k rows per stratum, deterministically — the eval-set
    carving rate-based sampling can't give you (a rate draws a
    binomially-varying count; a fixed-size held-out set needs exactly
    k). Selection order is the md5 hash-bucket of the id (uniform,
    reproducible across reruns/engines/partitionings like every sampler
    here) with the raw id as the total-order tie-break, so corpus
    GROWTH only displaces rows at the boundary — a new document evicts
    at most one previous member per stratum.

    Scale shape: one shuffle on the stratum key, then a per-stratum
    window rank — the ``part_topk_per_brand`` pattern; strata are
    bounded (sources/domains/languages). ``candidate_bucket_limit`` is
    the giant-stratum guard: rows with ``sel_bucket >=`` the limit are
    pruned BEFORE the window, so the rank never sorts the full stratum
    — size it generously above ``k / n_stratum * 1_000_000``. Pruning
    is provably lossless for any stratum that keeps >= k candidates
    (every pruned row sorts after every kept row, the sort key being
    sel_bucket first); a stratum left under k candidates — the limit
    was sized too low for it — falls back to ranking its full,
    unpruned membership, decided by a map-side-combined per-stratum
    count (bounded output) broadcast back as a semi/anti join. Output
    is therefore IDENTICAL to the unpruned rank for every stratum.
    Default None preserves the original single-window plan. Returns the
    selected rows as (id, stratum, sel_bucket, sel_rank 1..k).
    """
    from pyspark.sql.window import Window
    bucket = hash_bucket_col(id_col, salt="exactk")
    w = Window.partitionBy("stratum").orderBy(
        F.col("sel_bucket").asc(), F.col(id_col).asc())
    base = df.select(F.col(id_col), F.col(strata_col).alias("stratum"),
                     bucket.alias("sel_bucket"))
    if candidate_bucket_limit is None:
        cand = base
    else:
        keep = F.col("sel_bucket") < candidate_bucket_limit
        # counted over base, not the kept rows: a stratum whose every
        # row is pruned must fall back too, and it has no kept rows to
        # be counted from
        short = (base.groupBy("stratum")
                 .agg(F.sum(keep.cast("int")).alias("n_kept"))
                 .where(F.col("n_kept") < k).select("stratum"))
        cand = (base.where(keep)
                .join(F.broadcast(short), "stratum", "left_anti")
                .unionByName(
                    base.join(F.broadcast(short), "stratum",
                              "left_semi")))
    return (cand
            .withColumn("sel_rank", F.row_number().over(w))
            .where(F.col("sel_rank") <= k))
