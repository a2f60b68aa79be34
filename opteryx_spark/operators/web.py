"""Per-URL / per-domain curation operators (C4 / RefinedWeb-style).

Large-scale web-corpus pipelines gate and budget documents by their
source URL: parse the URL into components, reduce the host to its
*registered domain* (the unit both blocklists and per-site quotas key
on — ``news.example.co.uk`` and ``example.co.uk`` are one site), drop
blocklisted domains, and cap how many documents any single domain may
contribute (RefinedWeb §3.1 curates per-domain; C4 blocklists by
domain).

Everything here is pure column expressions plus (for the quota) one
per-domain window — map-only or single bounded shuffle at any scale.
URL parsing uses explicit regex/string ops rather than Spark's
``parse_url`` so the DuckDB oracles can mirror the arithmetic exactly.

Reference parity note: the reference engine has no web-curation
operators — these are the beyond-reference training-data-pipeline
surface (same charter as ``operators/filtering.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opteryx_spark import cache

# Multi-label public suffixes this engine recognizes when reducing a host
# to its registered domain.  A deliberately small embedded subset of the
# public-suffix list (the full PSL is a data file pipelines should mount
# and pass via ``extra_suffixes``); covers the common ccTLD second levels.
MULTI_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "co.in", "net.in", "org.in",
    "com.br", "net.br", "org.br",
    "co.za", "com.cn", "com.mx", "com.tr", "co.kr", "co.nz",
    "com.sg", "com.hk", "com.tw", "com.ar",
)

# host = authority minus userinfo/port; query/fragment delimited by ?/#
_SCHEME_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://.*$"
_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*).*$"
_PORT_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]*:([0-9]+).*$"
_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*).*$"
# scheme-anchored like the other component regexes, so a scheme-less
# value ('foo?x=1') yields NULL query, not 'x=1' — the documented
# "malformed => NULL components" contract
_QUERY_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^?#]*\\?([^#]*).*$"


def registered_domain(host: Column | str, extra_suffixes: tuple[str, ...] = ()) -> Column:
    """Reduce a hostname to its registered (pay-level) domain.

    ``a.b.example.co.uk`` → ``example.co.uk`` (multi-label suffix),
    ``sub.example.com`` → ``example.com``; a bare ``localhost`` or an
    already-minimal host passes through unchanged.  Suffix matching is a
    literal IN over the embedded :data:`MULTI_SUFFIXES` (+ caller
    extras) — pure expressions, no UDF, no lookup join.
    """
    h = F.col(host) if isinstance(host, str) else host
    parts = F.split(h, "\\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    suffixes = list(MULTI_SUFFIXES) + list(extra_suffixes)
    return (
        F.when(n <= F.lit(2), h)
        .when(last2.isin(suffixes), F.when(n >= 3, last3).otherwise(h))
        .otherwise(last2)
    )


def parse_urls(
    df: DataFrame,
    url_col: str = "url",
    extra_suffixes: tuple[str, ...] = (),
) -> DataFrame:
    """Append parsed URL components: ``scheme``, ``host``, ``port``
    (long, NULL when absent), ``path`` (NULL when absent), ``query``
    (NULL when absent), and ``domain`` (registered domain of the host).

    Malformed / scheme-less values yield NULL components (and a NULL
    url yields all-NULL) — filter on ``host IS NULL`` to audit.  Pure
    regexp_extract expressions: map-only, fully codegen'd, pushdown- and
    pruning-transparent at any scale.
    """
    u = F.col(url_col)

    def ext(pattern: str) -> Column:
        # regexp_extract returns '' on no-match; normalize to NULL
        got = F.regexp_extract(u, pattern, 1)
        return F.when(got == "", F.lit(None)).otherwise(got)

    host = ext(_HOST_RE)
    return (
        df.withColumn("scheme", ext(_SCHEME_RE))
        .withColumn("host", host)
        .withColumn("port", ext(_PORT_RE).cast("long"))
        .withColumn("path", ext(_PATH_RE))
        .withColumn("query", ext(_QUERY_RE))
        .withColumn(
            "domain",
            F.when(host.isNull(), F.lit(None)).otherwise(
                registered_domain(host, extra_suffixes)
            ),
        )
    )


def domain_blocklist(
    df: DataFrame,
    blocked: list[str] | DataFrame,
    url_col: str = "url",
    extra_suffixes: tuple[str, ...] = (),
) -> DataFrame:
    """Append ``blocked_domain`` (bool): the URL's registered domain is on
    the blocklist.  NULL/unparseable URLs are ``blocked_domain = false``
    (they fail other gates; this gate answers only the list question).

    A Python list becomes a literal IN (zero data movement); a DataFrame
    blocklist (one ``domain`` column) becomes a left join the optimizer
    broadcasts — blocklists are small next to a corpus at any scale.
    """
    dom = registered_domain(
        F.regexp_extract(F.col(url_col), _HOST_RE, 1), extra_suffixes
    )
    if isinstance(blocked, DataFrame):
        bl = blocked.select(F.col("domain").alias("_bl_domain")).distinct().withColumn(
            "_bl_hit", F.lit(True)
        )
        return (
            df.withColumn("_dom", dom)
            .join(F.broadcast(bl), F.col("_dom") == F.col("_bl_domain"), "left")
            .withColumn("blocked_domain", F.coalesce(F.col("_bl_hit"), F.lit(False)))
            .drop("_dom", "_bl_domain", "_bl_hit")
        )
    return df.withColumn("blocked_domain", F.coalesce(dom.isin(list(blocked)), F.lit(False)))


def domain_quota(
    df: DataFrame,
    max_per_domain: int,
    id_col: str = "doc_id",
    url_col: str = "url",
    extra_suffixes: tuple[str, ...] = (),
) -> DataFrame:
    """Keep at most ``max_per_domain`` documents per registered domain,
    chosen by the engine's canonical deterministic quota order (md5 of
    the id, then the id — ``filtering.quota_order``), so the kept set is
    partition- and cluster-invariant.  Docs whose URL has no parseable
    host quota together under domain NULL (explicit, documented — they
    are one "site" of unknowns; pre-filter if that is not wanted).

    One per-domain window — the same bounded-shuffle shape as
    ``filtering.quota_sample``; no global sort, no driver loop.
    """
    from pyspark.sql import Window

    from opteryx_spark.operators.filtering import quota_order

    host = F.regexp_extract(F.col(url_col), _HOST_RE, 1)
    dom = F.when(host == "", F.lit(None)).otherwise(
        registered_domain(host, extra_suffixes)
    )
    w = Window.partitionBy("_dom").orderBy(*quota_order(id_col))
    return (
        df.withColumn("_dom", dom)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_domain)
        .withColumn("domain", F.col("_dom"))
        .drop("_dom", "_rn")
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Fixed-point PageRank over a (src, dst) link graph — the
    domain-authority signal web curation pipelines rank crawl frontiers
    and weight sources by (CommonCrawl publishes exactly this per-domain
    ranking; OPIC/harmonic-centrality variants share the shape).

    Beyond-reference surface (the reference engine has no graph
    operators).  All arithmetic is BIGINT with truncating division —
    rank mass is carried in ``scale`` units (nano-ranks by default), so
    per-iteration sums are order-independent and the result is
    bit-reproducible on any partitioning (the same determinism contract
    as the suite's fixed-point q1 sums).  Per node and iteration::

        base  = ((100 - damping_pct) * (scale div n)) div 100
        share = rank div outdeg                      (per out-edge)
        dang  = (sum of dangling ranks) div n        (redistributed)
        rank' = base + (damping_pct * (incoming + dang)) div 100

    Scale shape: the edge list and out-degrees are computed once; each
    iteration is one src-keyed equi join (rank onto edges) plus one
    dst-keyed SUM with map-side combine — the canonical join-agg
    PageRank loop.  Node/edge frames stay keyed by node id throughout so
    a cluster run co-partitions every iteration on the same exchange;
    the two scalars (n, dangling mass) ride along as broadcast one-row
    frames, never a driver collect.  For deep iteration counts persist
    or localCheckpoint ``ranks`` per round to bound lineage; at 3–5
    iterations (rankings stabilize quickly on web graphs) the composed
    plan is fine as-is.

    Returns one row per node: ``node``, ``rank`` (BIGINT, in ``scale``
    units).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not (0 < damping_pct < 100):
        raise ValueError("damping_pct must be in [1, 99]")

    # the edge list feeds every iteration's join AND the node/degree
    # derivations — persist once (Catalyst does not dedupe the repeated
    # subplan; without this the edge lineage replays per iteration)
    e = cache.persist(
        edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n_df = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("_n")))
    outdeg = e.groupBy(F.col("_src").alias("node")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    # node frame with degree (0-degree = dangling) and the n scalar along
    base_nodes = (
        nodes.join(outdeg, "node", "left")
        .crossJoin(n_df)
        .select(
            "node",
            F.coalesce("_deg", F.lit(0)).alias("_deg"),
            F.col("_n"),
            F.expr(f"CAST({scale} AS BIGINT) div _n").alias("rank"),
        )
    )
    base = F.expr(f"({100 - damping_pct} * (CAST({scale} AS BIGINT) div _n)) div 100")

    # re-root the lineage each round: the rank frame feeds THREE branches
    # per iteration (dangling mass, the contribution join, the rebuild),
    # so an un-truncated plan re-nests 3x per round — exponential analysis
    # and recompute.  localCheckpoint keeps every round's plan flat, the
    # same re-rooting the connected-components loop uses.
    ranks = cache.checkpoint(base_nodes)
    for _ in range(iterations):
        dang = F.broadcast(
            ranks.filter(F.col("_deg") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0)).alias("_dang_mass")
            )
        )
        incoming = (
            e.join(ranks.select(F.col("node").alias("_src"), "rank", "_deg"), "_src")
            .select(F.col("_dst").alias("node"), F.expr("rank div _deg").alias("_share"))
            .groupBy("node")
            .agg(F.sum("_share").alias("_inc"))
        )
        new = cache.checkpoint(
            ranks.select("node", "_deg", "_n")
            .join(incoming, "node", "left")
            .crossJoin(dang)
            .select(
                "node",
                "_deg",
                "_n",
                (
                    base
                    + F.expr(
                        f"({damping_pct} * (coalesce(_inc, CAST(0 AS BIGINT))"
                        " + (_dang_mass div _n))) div 100"
                    )
                ).alias("rank"),
            )
        )
        cache.release(ranks)  # superseded round — keep only the latest
        ranks = new
    return ranks.select("node", "rank")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Personalized PageRank (Jeh & Widom 2003): :func:`pagerank` with
    the teleport restricted to a SEED set — authority relative to a
    trusted frontier rather than globally.  The curation use is seed
    expansion: start from the domains/documents you already trust
    (curated source lists, human-rated exemplars) and rank everything
    else by random-walk proximity to them, the TrustRank-style signal
    for crawl-frontier prioritization and source weighting that a global
    rank cannot give (a globally-popular spam hub scores high on
    :func:`pagerank`, low here).

    Identical exact-integer contract and join-agg loop shape as
    :func:`pagerank` — the only deltas are where mass (re)enters::

        base   = ((100 - damping_pct) * (scale div n_seeds)) div 100   (seeds only)
        dang   = (sum of dangling ranks) div n_seeds                   (to seeds only)
        rank' = base + (damping_pct * (incoming + dang)) div 100

    Non-seed nodes get teleport/dangling mass 0.  Seeds listed in
    ``seeds`` but absent from the graph are ignored (no edges can carry
    their mass); if NO seed is in the graph every rank comes back NULL
    (``x div 0`` is NULL in both engines) — validate the seed list
    upstream rather than paying a driver-side count here.  The seed frame is expected to be small (a curated
    list) and joins broadcast; everything else co-partitions on node id
    per round exactly like :func:`pagerank`.

    Returns one row per node: ``node``, ``rank`` (BIGINT, ``scale``
    units; mass sums to ~``scale`` up to truncation loss).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not (0 < damping_pct < 100):
        raise ValueError("damping_pct must be in [1, 99]")

    e = cache.persist(
        edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    seed_nodes = F.broadcast(
        seeds.select(F.col(seed_col).alias("node")).distinct()
    )
    outdeg = e.groupBy(F.col("_src").alias("node")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    # in-graph seeds only: mass teleports where edges can carry it out
    flagged = nodes.join(
        seed_nodes.select("node", F.lit(1).alias("_is_seed")), "node", "left"
    ).select("node", F.coalesce("_is_seed", F.lit(0)).alias("_is_seed"))
    ns_df = F.broadcast(
        flagged.agg(F.sum("_is_seed").cast("bigint").alias("_ns"))
    )
    base_nodes = (
        flagged.join(outdeg, "node", "left")
        .crossJoin(ns_df)
        .select(
            "node",
            "_is_seed",
            F.coalesce("_deg", F.lit(0)).alias("_deg"),
            F.col("_ns"),
            F.expr(f"_is_seed * (CAST({scale} AS BIGINT) div _ns)").alias("rank"),
        )
    )
    base = F.expr(
        f"_is_seed * (({100 - damping_pct} * (CAST({scale} AS BIGINT) div _ns)) div 100)"
    )

    ranks = cache.checkpoint(base_nodes)
    for _ in range(iterations):
        dang = F.broadcast(
            ranks.filter(F.col("_deg") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0)).alias("_dang_mass")
            )
        )
        incoming = (
            e.join(ranks.select(F.col("node").alias("_src"), "rank", "_deg"), "_src")
            .select(F.col("_dst").alias("node"), F.expr("rank div _deg").alias("_share"))
            .groupBy("node")
            .agg(F.sum("_share").alias("_inc"))
        )
        new = cache.checkpoint(
            ranks.select("node", "_is_seed", "_deg", "_ns")
            .join(incoming, "node", "left")
            .crossJoin(dang)
            .select(
                "node",
                "_is_seed",
                "_deg",
                "_ns",
                (
                    base
                    + F.expr(
                        f"({damping_pct} * (coalesce(_inc, CAST(0 AS BIGINT))"
                        " + _is_seed * (_dang_mass div _ns))) div 100"
                    )
                ).alias("rank"),
            )
        )
        cache.release(ranks)
        ranks = new
    return ranks.select("node", "rank")


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the local
    clustering signal link-spam and community detectors key on (domains
    inside link farms close many triangles; organic hubs close few
    relative to degree).  Beyond-reference surface like :func:`pagerank`.

    Edges are canonicalized to ``least < greatest`` and deduplicated, so
    direction and multiplicity don't double-count.  Triangles enumerate
    via the standard two-join ordered pattern — ``(a<b) ⋈ (b<c) ⋈
    (a<c)`` — which emits each triangle exactly once; counts then explode
    to the three corners.  NULL and self-loop endpoints drop out in
    canonicalization.

    Scale shape: two equi joins on node keys plus one aggregate, no
    cartesian, no windows.  At web scale the classic refinement (join
    smaller-degree endpoint first) drops in without changing semantics;
    the joins here already carry only 2-3 node-id columns.

    Returns ``node``, ``n_triangles`` (BIGINT; nodes on no triangle are
    absent — left-join from the node set to zero-fill if needed).
    """

    # the canonical edge set feeds all three join legs — persist once
    # instead of recomputing the dedup shuffle per leg
    e = cache.persist(
        edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("_a"),
            F.greatest(src_col, dst_col).alias("_b"),
        )
        .distinct()
    )
    ab = e.select(F.col("_a").alias("a"), F.col("_b").alias("b"))
    bc = e.select(F.col("_a").alias("b"), F.col("_b").alias("c"))
    ac = e.select(F.col("_a").alias("a"), F.col("_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    # explode the three corners from ONE evaluation of the join — a
    # unionAll of three selects would re-run both joins per corner
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def _tracking_pred(
    x: Column, prefixes: tuple[str, ...], keys: tuple[str, ...]
) -> Column:
    cond = F.lit(False)
    for p in prefixes:
        cond = cond | x.startswith(p)
    for k in keys:
        cond = cond | x.startswith(k + "=") | (x == k)
    return cond


def canonicalize_urls(
    df: DataFrame,
    url_col: str = "url",
    tracking_prefixes: tuple[str, ...] = ("utm_",),
    tracking_keys: tuple[str, ...] = ("gclid", "fbclid", "ref", "mc_cid", "mc_eid"),
) -> DataFrame:
    """Append ``canonical_url``: the dedup key real crawl pipelines
    collapse on before content hashing (C4/RefinedWeb both start with
    URL-level dedup).  Canonicalization, all map-only codegen'd
    expressions:

    - scheme and host lowercased;
    - default ports stripped (``http:80``, ``https:443``), others kept;
    - fragment dropped;
    - tracking parameters removed (``utm_*`` prefixes + exact keys) and
      the surviving query parameters SORTED bytewise, so parameter order
      never splits one page into two identities;
    - missing path becomes ``/``; a trailing slash on a non-root path is
      stripped.

    Malformed / scheme-less / NULL urls yield NULL ``canonical_url``
    (the :func:`parse_urls` contract).
    """
    u = F.col(url_col)

    def ext(pattern: str) -> Column:
        got = F.regexp_extract(u, pattern, 1)
        return F.when(got == "", F.lit(None)).otherwise(got)

    scheme = F.lower(ext(_SCHEME_RE))
    host = F.lower(ext(_HOST_RE))
    port = ext(_PORT_RE)
    path = ext(_PATH_RE)
    query = ext(_QUERY_RE)

    port_part = F.when(
        port.isNull()
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))

    path_part = F.when(path.isNull(), F.lit("/")).otherwise(
        F.when(
            (F.length(path) > 1) & path.endswith("/"),
            path.substr(F.lit(1), F.length(path) - 1),
        ).otherwise(path)
    )

    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda x: (x != "")
            & ~_tracking_pred(x, tracking_prefixes, tracking_keys),
        )
    )
    q_part = F.when(
        query.isNull() | (F.size(params) == 0), F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(params, "&")))

    canonical = F.when(scheme.isNull() | host.isNull(), F.lit(None)).otherwise(
        F.concat(scheme, F.lit("://"), host, port_part, path_part, q_part)
    )
    return df.withColumn("canonical_url", canonical)


def domain_concentration(
    df: DataFrame,
    url_col: str = "url",
    extra_suffixes: tuple[str, ...] = (),
) -> DataFrame:
    """Domain-concentration audit: per-domain document counts plus the
    corpus Gini coefficient over those counts — the anti-domination
    number web-corpus papers report (a corpus where three domains own
    half the tokens trains a three-site model; :func:`domain_quota` is
    the fix, this is the measurement).

    Gini over ascending counts ``c_1 <= ... <= c_n`` (ties broken by
    domain so the rank is deterministic):
    ``G = (2·Σ i·c_i − (n+1)·Σc) / (n·Σc)`` — every term an exact BIGINT
    (DECIMAL(38,0) for the rank-weighted sum), one float division at the
    end.  Unparseable-host docs count under domain NULL, like
    :func:`domain_quota`.

    Scale shape: one per-domain aggregate over the corpus, then the rank
    window and the Gini reduction run over DOMAIN-count rows (≪ corpus —
    the web has ~10^8 registered domains vs 10^11 pages); a cluster run
    never sorts document-sized data.

    Returns one row per domain — ``domain``, ``n_docs``, ``share_ppm``
    (BIGINT parts-per-million, truncating) — plus the corpus-level
    ``gini`` (double) repeated on every row for artifact-free reporting.
    """
    from pyspark.sql import Window

    host = F.regexp_extract(F.col(url_col), _HOST_RE, 1)
    dom = F.when(host == "", F.lit(None)).otherwise(
        registered_domain(host, extra_suffixes)
    )
    counts = (
        df.select(dom.alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.orderBy(F.col("n_docs").asc(), F.col("domain").asc_nulls_first())
    ranked = counts.withColumn("_i", F.row_number().over(w))
    g = ranked.agg(
        F.sum((F.col("_i") * F.col("n_docs")).cast("decimal(38,0)")).alias("_iw"),
        F.sum("n_docs").alias("_tot"),
        F.count(F.lit(1)).alias("_n"),
    ).select(
        (
            (F.lit(2.0) * F.col("_iw").cast("double")
             - (F.col("_n") + F.lit(1)).cast("double") * F.col("_tot").cast("double"))
            / (F.col("_n").cast("double") * F.col("_tot").cast("double"))
        ).alias("gini"),
        F.col("_tot"),
    )
    return (
        counts.crossJoin(F.broadcast(g))
        .select(
            "domain",
            "n_docs",
            F.expr("CAST((n_docs * 1000000) div _tot AS BIGINT)").alias("share_ppm"),
            "gini",
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int | None = None,
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which
    every node has degree ≥ k — the standard "dense kernel" filter for
    link graphs (spam rings and authority clusters live in high cores;
    crawl frontiers prune to a core before expensive per-node scoring).
    Beyond-reference surface like :func:`pagerank` / :func:`triangle_counts`.

    Edges are canonicalized undirected (``least < greatest``, dedup,
    self-loops dropped) exactly as in :func:`triangle_counts`.  Peeling
    then iterates: compute degrees, keep nodes with degree ≥ k, keep
    edges whose BOTH endpoints survive, until a fixpoint (or
    ``max_rounds``).  Each round is one count aggregate plus two
    semi joins on node id — all hash-partitioned on node keys, no
    windows, no cartesian, no driver data; the loop re-roots lineage
    per round via ``cache.checkpoint`` (the pagerank pattern)
    so the plan never grows with the round count.

    The fixpoint test costs one ``count()`` action per round; pass
    ``max_rounds`` to run a fixed number of peels instead (deterministic
    whether or not the fixpoint was reached — the oracle-twin mode).

    Returns ``node``, ``core_degree`` (BIGINT, the node's degree inside
    the final subgraph; ≥ k at fixpoint) for surviving nodes.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("_a"),
            F.greatest(src_col, dst_col).alias("_b"),
        )
        .distinct()
    )
    e = cache.checkpoint(e)
    n_edges = e.count() if max_rounds is None else None
    rounds = 0
    while True:
        if max_rounds is not None and rounds >= max_rounds:
            break
        deg = (
            e.select(F.col("_a").alias("node"))
            .unionAll(e.select(F.col("_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("_deg"))
        )
        keep = deg.filter(F.col("_deg") >= F.lit(int(k))).select("node")
        nxt = (
            e.join(keep.withColumnRenamed("node", "_a"), "_a", "left_semi")
            .join(keep.withColumnRenamed("node", "_b"), "_b", "left_semi")
            .select("_a", "_b")
        )
        nxt = cache.checkpoint(nxt)
        rounds += 1
        if max_rounds is None:
            n_next = nxt.count()
            if n_next == n_edges:
                cache.release(nxt)  # superseded (equal to e) and already counted
                break
            n_edges = n_next
        # superseded round — release NOW (safe: localCheckpoint is eager, so
        # nxt is already materialized); deferring to scope exit would pin
        # every peel round's edge blocks for the whole call (ADVICE r7)
        cache.release(e)
        e = nxt
    deg = (
        e.select(F.col("_a").alias("node"))
        .unionAll(e.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return deg


def core_numbers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int | None = None,
) -> DataFrame:
    """Full core decomposition — every node's core number (the largest k
    for which it survives the k-core peel; :func:`kcore` answers one k,
    this answers all of them at once) via distributed h-index iteration
    (Lü, Zhou, Zhang & Stanley, "The H-index of a network node", 2016):
    start every node at its degree, then repeatedly replace each node's
    value with the h-index of its neighbors' values; the sequence is
    monotone non-increasing and converges to the exact core number.

    The classic peeling algorithm is inherently sequential (a global
    min-degree bucket queue); h-index iteration is the scale-out
    formulation — each round is one key-partitioned join (neighbor
    values), one per-NODE window (rank neighbor values descending) and
    one max aggregate: ``h = max(least(rank, val))``.  No global state,
    no driver data; lineage re-roots per round (the pagerank pattern).

    Fixpoint mode costs one small fixpoint-check count per round;
    ``max_rounds`` runs a fixed number of rounds instead (the
    oracle-twin mode — values are exact once the fixpoint round count
    is covered, conservative upper bounds otherwise).

    Returns ``node``, ``core_number`` (BIGINT).
    """
    e = (
        edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("_a"),
            F.greatest(src_col, dst_col).alias("_b"),
        )
        .distinct()
    )
    nbrs = e.select(F.col("_a").alias("node"), F.col("_b").alias("nbr")).unionAll(
        e.select(F.col("_b").alias("node"), F.col("_a").alias("nbr"))
    )
    nbrs = cache.checkpoint(nbrs)
    v = cache.checkpoint(nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("val")))
    rounds = 0
    from pyspark.sql.window import Window

    w = Window.partitionBy("node").orderBy(F.col("_nv").desc(), F.col("nbr"))
    while max_rounds is None or rounds < max_rounds:
        ranked = nbrs.join(
            v.select(F.col("node").alias("nbr"), F.col("val").alias("_nv")), "nbr"
        ).select(
            "node", "_nv", F.row_number().over(w).cast("bigint").alias("_rn")
        )
        nxt = ranked.groupBy("node").agg(
            F.max(F.least(F.col("_rn"), F.col("_nv"))).alias("val")
        )
        nxt = cache.checkpoint(nxt)
        rounds += 1
        if max_rounds is None:
            # converged when no node's value moved this round
            n_changed = (
                nxt.select("node", F.col("val").alias("_new"))
                .join(v, "node")
                .filter(F.col("_new") != F.col("val"))
                .count()
            )
            if n_changed == 0:
                cache.release(nxt)  # superseded (values equal v) and already counted
                break
        # superseded round — release NOW (pagerank pattern; see kcore)
        cache.release(v)
        v = nxt
    return v.select("node", F.col("val").alias("core_number"))


def _canonical_edges(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Undirected canonical edge set ``(_a < _b)``, deduped, self-loops
    and NULL endpoints dropped — the shared normalization of
    :func:`triangle_counts` / :func:`kcore` / :func:`core_numbers`."""
    return (
        edges.filter(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
        .filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("_a"),
            F.greatest(src_col, dst_col).alias("_b"),
        )
        .distinct()
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of the degrees at the two ends of each edge — positive
    when hubs link to hubs (social graphs), negative when hubs link to
    leaves (web/biological graphs).  A one-number structural screen for
    link-graph curation (a crawl whose assortativity flips between
    snapshots changed its growth regime).

    Edges are canonicalized undirected; each edge contributes BOTH
    orientations (j,k) and (k,j) — the standard symmetric treatment, so
    Σx = Σy and Σxx = Σyy by construction.  All sufficient statistics
    are BIGINT-exact; the coefficient is ONE fixed float expression over
    exact integers (bit-identical cross-engine).  Zero degree variance
    (regular graph) yields NULL.

    Scale shape: one degree aggregate, two node-keyed joins to attach
    endpoint degrees, one global aggregate of five numbers — no window,
    no collect.

    Returns one row: ``n_edges`` (BIGINT, canonical undirected count),
    ``assortativity`` (DOUBLE, NULL when degenerate).
    """
    e = _canonical_edges(edges, src_col, dst_col)
    deg = (
        e.select(F.col("_a").alias("node"))
        .unionAll(e.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    da = deg.select(F.col("node").alias("_a"), F.col("_deg").alias("_ja"))
    db = deg.select(F.col("node").alias("_b"), F.col("_deg").alias("_jb"))
    pairs = e.join(da, "_a").join(db, "_b")
    # both orientations: (ja, jb) and (jb, ja)
    xy = pairs.select(F.col("_ja").alias("_x"), F.col("_jb").alias("_y")).unionAll(
        pairs.select(F.col("_jb").alias("_x"), F.col("_ja").alias("_y"))
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n = F.col("_n")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    dx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    r = F.when(dx > 0, num.cast("double") / dx.cast("double"))
    return agg.select(
        (F.col("_n") / F.lit(2)).cast("bigint").alias("n_edges"),
        r.alias("assortativity"),
    )


def clustering_coefficients(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient: the fraction of a node's
    neighbor pairs that are themselves connected —
    ``2·triangles(v) / (deg(v)·(deg(v)−1))`` — reported as a truncated
    integer ppm (``div``, exact cross-engine; no float arithmetic at
    all).  The node-level density signal that complements the global
    :func:`degree_assortativity` and the per-node :func:`triangle_counts`
    it composes.

    Nodes of degree < 2 have no neighbor pairs: ``coeff_ppm`` is NULL
    (honest, not 0).  Triangle counting reuses :func:`triangle_counts`
    (ordered two-join enumeration); the degree aggregate LEFT-joins the
    triangle counts so triangle-free nodes report 0 triangles.

    Returns ``node``, ``degree`` (BIGINT), ``n_triangles`` (BIGINT),
    ``coeff_ppm`` (BIGINT, NULL when degree < 2).
    """
    e = _canonical_edges(edges, src_col, dst_col)
    deg = (
        e.select(F.col("_a").alias("node"))
        .unionAll(e.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(e, src_col="_a", dst_col="_b")
    out = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                "(2000000 * coalesce(n_triangles, CAST(0 AS BIGINT)))"
                " div (degree * (degree - 1))"
            ),
        ).alias("coeff_ppm"),
    )
    return out


def label_communities(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): every node starts as its own label; each round it
    adopts the most frequent label among its neighbors (ties to the
    SMALLEST label, so every round is deterministic).  The linear-time
    community method for link graphs — finds denser-than-chance groups
    (mutual-link clusters) that :func:`kcore` (density threshold) and
    connected components (mere reachability) do not.

    Fixed ``rounds`` (synchronous LPA can oscillate on bipartite
    structure, so a fixpoint test may never fire; a fixed-round run is
    deterministic regardless and lets an oracle unroll the exact same
    rounds).  Per round: one label join on the static neighbor list +
    one ``min(struct(-count, label))`` keeper — both hash-partitioned
    on node id, lineage re-rooted per round with eager superseded-round
    release (the :func:`pagerank` pattern).  Isolated nodes never
    appear (edges define the population).

    Returns ``node``, ``community`` (BIGINT, a node id serving as the
    label).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = _canonical_edges(edges, src_col, dst_col)
    nbrs = e.select(F.col("_a").alias("node"), F.col("_b").alias("nbr")).unionAll(
        e.select(F.col("_b").alias("node"), F.col("_a").alias("nbr"))
    )
    nbrs = cache.checkpoint(nbrs)
    labels = cache.checkpoint(
        nbrs.select("node").distinct().select("node", F.col("node").alias("community"))
    )
    for _ in range(rounds):
        counted = (
            nbrs.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("community").alias("_nl")
                ),
                "nbr",
            )
            .groupBy("node", "_nl")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        nxt = counted.groupBy("node").agg(
            F.min(
                F.struct((-F.col("_c")).alias("_neg"), F.col("_nl").alias("_l"))
            ).alias("_k")
        ).select("node", F.col("_k._l").alias("community"))
        nxt = cache.checkpoint(nxt)
        cache.release(labels)  # superseded round (eager: localCheckpoint is eager)
        labels = nxt
    return labels


def hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distances, bounded at ``max_hops``: the
    graph-proximity primitive behind "how far is every page from the
    seed/trusted set" (TrustRank-style seed propagation, crawl-frontier
    depth audits, contamination blast-radius checks).  Undirected, over
    the same canonical edge normalization as :func:`kcore` /
    :func:`triangle_counts`.

    Implemented as fixed-round Bellman-Ford relaxation rather than a
    frontier queue: each round the candidate distance set is the union
    of the current labels and every neighbor's label + 1, reduced by a
    ``min`` groupBy.  A frontier BFS does less work per round but needs
    a data-dependent loop condition; fixed-round relaxation is
    deterministic, oracle-unrollable, and each round is ONE node-keyed
    join + ONE node-keyed aggregate — both hash-partitioned on node id,
    no global structure.  Lineage is re-rooted per round with eager
    superseded-round release (the :func:`pagerank` pattern).

    ``seeds`` is a one-column DataFrame of node ids (distance 0); NULL
    seeds are dropped.  Nodes unreachable within ``max_hops`` are absent
    from the result (distance unknown, not infinite).

    Returns ``node``, ``hops`` (BIGINT, 0 for seeds).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = _canonical_edges(edges, src_col, dst_col)
    nbrs = e.select(F.col("_a").alias("node"), F.col("_b").alias("nbr")).unionAll(
        e.select(F.col("_b").alias("node"), F.col("_a").alias("nbr"))
    )
    nbrs = cache.checkpoint(nbrs)
    dist = cache.checkpoint(
        seeds.filter(F.col(node_col).isNotNull())
        .select(F.col(node_col).cast("bigint").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("hops"))
    )
    for _ in range(max_hops):
        relaxed = nbrs.join(
            dist.select(F.col("node").alias("nbr"), F.col("hops").alias("_nh")),
            "nbr",
        ).select("node", (F.col("_nh") + F.lit(1).cast("bigint")).alias("hops"))
        nxt = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        nxt = cache.checkpoint(nxt)
        cache.release(dist)  # superseded round (eager: localCheckpoint is eager)
        dist = nxt
    return dist


def hits_scores(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED link
    graph — the directed-role complement to :func:`pagerank`: an
    *authority* is pointed to by good hubs, a *hub* points to good
    authorities.  Web curation uses the split where PageRank's single
    score conflates them (link directories vs. content pages; crawl
    seeds are good hubs, quality sources are good authorities).

    Exact-integer formulation so an oracle replays it: scores are
    carried in ``scale`` (ppm) units; each round is two half-updates

        ``a_raw(i) = Σ_{j→i} h(j)``  then  ``a(i) = a_raw·scale div Σ a_raw``
        ``h_raw(i) = Σ_{i→j} a(j)``  then  ``h(i) = h_raw·scale div Σ h_raw``

    (L1 normalization with truncating div — Kleinberg's L2 would need a
    float sqrt; L1 preserves the ranking and keeps every intermediate a
    BIGINT).  Self-loops are dropped and parallel edges collapse (simple
    directed graph); nodes with no in-links get authority 0, no
    out-links hub 0.

    Scale shape: the deduped edge list is persisted once; each
    half-round is ONE node-keyed equi join + ONE node-keyed SUM with
    map-side combine, the normalizer riding along as a broadcast 1-row
    frame (never a driver collect); lineage is re-rooted per round with
    eager superseded release (the :func:`pagerank` / :func:`kcore`
    pattern).

    Returns ``node``, ``hub_ppm``, ``auth_ppm`` (BIGINT, ``scale``
    units).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if scale < 1:
        raise ValueError("scale must be >= 1")
    e = cache.persist(
        edges.filter(
            F.col(src_col).isNotNull()
            & F.col(dst_col).isNotNull()
            & (F.col(src_col) != F.col(dst_col))
        )
        .select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .distinct()
    )
    nodes = e.select(F.col("_s").alias("node")).union(
        e.select(F.col("_d").alias("node"))
    ).distinct()
    nodes = cache.persist(nodes)
    q = F.lit(int(scale)).cast("long")
    h = cache.checkpoint(nodes.select("node", q.alias("score")))

    def _half(scores: DataFrame, out_key: str, in_key: str) -> DataFrame:
        # propagate scores across edges from in_key side to out_key side,
        # then L1-normalize to `scale` units
        raw = (
            e.join(
                scores.select(F.col("node").alias(in_key), "score"), in_key
            )
            .groupBy(F.col(out_key).alias("node"))
            .agg(F.sum("score").alias("_raw"))
        )
        total = F.broadcast(raw.agg(F.sum("_raw").alias("_tot")))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(total)
            .select(
                "node",
                F.coalesce(
                    F.expr(f"(_raw * {int(scale)}) div _tot"), F.lit(0).cast("long")
                ).alias("score"),
            )
        )

    a = None
    for _ in range(rounds):
        na = cache.checkpoint(_half(h, out_key="_d", in_key="_s"))
        if a is not None:
            cache.release(a)  # superseded authority round (eager)
        a = na
        nh = cache.checkpoint(_half(a, out_key="_s", in_key="_d"))
        cache.release(h)  # superseded hub round (localCheckpoint is eager)
        h = nh
    out = h.select("node", F.col("score").alias("hub_ppm")).join(
        a.select("node", F.col("score").alias("auth_ppm")), "node", "full_outer"
    )
    return out.select(
        "node",
        F.coalesce("hub_ppm", F.lit(0)).cast("bigint").alias("hub_ppm"),
        F.coalesce("auth_ppm", F.lit(0)).cast("bigint").alias("auth_ppm"),
    )


def link_prediction_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    top_k: int = 50,
    max_degree: int | None = 1000,
) -> DataFrame:
    """Link prediction by common-neighbor Jaccard (Liben-Nowell 2003's
    strongest simple baseline): score every NON-adjacent pair that
    shares at least one neighbor by ``|N(a)∩N(b)| / |N(a)∪N(b)|`` and
    keep the top-k — "which links are missing": recommendation
    candidates, knowledge-graph completion, crawl-frontier hints.

    Exact and integer: common counts from the wedge join (the
    :func:`triangle_counts` two-hop shape — one shuffle on the shared
    neighbor), union sizes from degrees (``deg_a + deg_b − common``),
    scores as truncating ppm, ``(score DESC, a, b)`` tie-broken top-k
    via TakeOrdered.  Existing edges are removed with a broadcast-
    eligible anti-join (prediction means NEW links).

    Scale control: wedge fan-out is quadratic in the hub's degree, so
    nodes above ``max_degree`` are excluded as wedge CENTERS (their
    neighborhoods still count toward degrees/denominators) — the same
    auditable hot-key cap as :func:`~opteryx_spark.operators.dedup.
    winnow_pairs`; at web scale a super-hub's common-neighbor signal is
    boilerplate anyway.

    Returns ``a``, ``b`` (a < b), ``n_common``, ``deg_a``, ``deg_b``,
    ``jaccard_ppm`` (BIGINT).
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    e = cache.persist(_canonical_edges(edges, src_col, dst_col))
    nbrs = e.select(F.col("_a").alias("node"), F.col("_b").alias("nbr")).unionAll(
        e.select(F.col("_b").alias("node"), F.col("_a").alias("nbr"))
    )
    deg = cache.persist(nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    centers = nbrs
    if max_degree is not None:
        hot = deg.filter(F.col("deg") > int(max_degree)).select(
            F.col("node").alias("nbr")
        )
        centers = nbrs.select(
            F.col("nbr").alias("ctr"), F.col("node").alias("leaf")
        ).join(F.broadcast(hot.select(F.col("nbr").alias("ctr"))), "ctr", "left_anti")
    else:
        centers = nbrs.select(F.col("nbr").alias("ctr"), F.col("node").alias("leaf"))
    l, r = centers.alias("l"), centers.alias("r")
    cand = (
        l.join(r, (F.col("l.ctr") == F.col("r.ctr")) & (F.col("l.leaf") < F.col("r.leaf")))
        .groupBy(F.col("l.leaf").alias("a"), F.col("r.leaf").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(
            e.select(F.col("_a").alias("a"), F.col("_b").alias("b")),
            ["a", "b"],
            "left_anti",
        )
    )
    scored = (
        cand.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            F.expr(
                "(n_common * 1000000) div (deg_a + deg_b - n_common)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_ppm").desc(), "a", "b"
    ).limit(int(top_k))


def reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity (Newman 2002's r): the fraction of
    directed edges whose REVERSE edge also exists — the
    mutual-vs-broadcast structure split (link exchanges and mirror
    farms score high, editorially-linked content low), a one-number
    companion to :func:`degree_assortativity` for auditing a crawl's
    link graph before trusting :func:`pagerank`-style signals on it.

    Self-loops are dropped and parallel edges collapse first (the
    :func:`hits_scores` simple-graph convention), so the ratio is over
    distinct ordered pairs.  Exact arithmetic: counts are BIGINT,
    ``reciprocity_ppm`` a truncating div.

    Shape: ONE dedup + ONE self-semi-join on the reversed key + one
    global aggregate — hash-partitioned on the edge key, nothing
    driver-side.

    Returns one row: ``n_edges``, ``n_reciprocal`` (BIGINT),
    ``reciprocity_ppm`` (BIGINT; NULL on an empty graph).
    """
    e = (
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )
    rev = e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    recip = e.join(rev, ["_s", "_d"], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        .crossJoin(
            recip.agg(F.count(F.lit(1)).cast("bigint").alias("n_reciprocal"))
        )
        .select(
            "n_edges",
            "n_reciprocal",
            F.when(
                F.col("n_edges") > 0,
                F.expr("(n_reciprocal * 1000000) div n_edges"),
            ).alias("reciprocity_ppm"),
        )
    )
