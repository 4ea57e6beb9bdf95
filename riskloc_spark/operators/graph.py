"""Web-link graph operators for crawl curation: anchor extraction with
URL resolution, host-level graph aggregation, and fixed-point integer
PageRank.

No reference counterpart (shaido987/riskloc is tabular RCA only) —
this is LLM-data-pipeline surface: domain authority computed from the
crawl's OWN link structure is the classic crawl-frontier priority and
corpus-weighting signal (Page et al. 1999, "The PageRank Citation
Ranking"; Common Crawl publishes exactly this host-level webgraph),
feeding per-domain caps and seed selection alongside the URL operators
in functions/quality.py.

Scale shapes
------------
* ``extract_links`` is a codegen'd regexp explode + pure column
  algebra — zero Python, zero shuffle; at 100 TB it runs entirely
  inside the page scan.
* ``host_graph`` is one map-side-combinable aggregation keyed on the
  (src_host, dst_host) pair; boilerplate mega-hosts are absorbed by
  partial aggregation exactly like the exact-dedup groupBy.
* ``pagerank`` iterates JOIN(edges, scores) -> groupBy(dst): the
  edges frame is hash-partitioned ON src ONCE and persisted, so every
  iteration's join co-locates against the (much smaller) score frame
  shuffle; the per-iteration reduce is the single unavoidable exchange
  (edge volume), combiner-absorbed. Hub hosts (every page links to
  twitter.com) skew the dst reduce — AQE skew-split handles the
  straggler, same recipe as the knn_graph rung. Scores are
  localCheckpoint'ed each iteration to cut lineage. NOTHING collects
  to the driver: the node count and the dangling mass are one-row
  frames broadcast into the plan.

Fixed-point determinism
-----------------------
All PageRank arithmetic is BIGINT: scores carry ``scale`` units of
total mass, damping is the exact rational ``damping_num/damping_den``,
and every division is integer floor division — the same discipline as
the NB classifier's micronat weights (functions/classifier.py). Sums
of integers are associative, so the result is bit-identical under any
partitioning / row order, and the DuckDB oracle replays the identical
unrolled arithmetic (floating-point PageRank would drift with
reduction order and could never hash-gate).

URL resolution follows RFC 3986 §5.2: ``<base href>`` (first
occurrence wins, per the HTML spec) replaces the page URL as the
resolution base; query-only references (``?page=2``) take the base
path whole; ``.``/``..`` dot segments are removed per §5.2.4 (a
bounded in-row fold that only runs on the minority of links that
contain them — the common case stays a pure regex/concat); interior
tab/newline inside an href is removed and surrounding ASCII
whitespace stripped (the HTML URL parser's preprocessing).

Stated seams (documented non-goals, same discipline as html.py):
anchors inside comments/scripts are extracted (use html.py's tree
path upstream to strip them first when that matters); %-encoding
normalization and IDNA host folding are not attempted.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from riskloc_spark.operators.dedup import reuse_checkpoint

# href in an <a> tag — double-quoted, single-quoted, or unquoted (the
# three forms HTML allows; real crawls carry all of them).  One
# alternation, ONE capture group per alternative; explicit classes
# parse identically in Java regex and RE2 (the WS_CLASS discipline of
# functions/text.py).  regexp_extract_all takes a single group index,
# so the three forms are three passes whose arrays concatenate.
# the attribute NAME must start after whitespace (the optional
# non-capturing run), so suffix attributes (data-href=, xlink:href=)
# never false-positive
_A_PRE = r"<[Aa][ \t\n\x0B\f\r](?:[^>]*[ \t\n\x0B\f\r])?href="
HREF_DQ_RE = _A_PRE + r'"([^"]*)"'
HREF_SQ_RE = _A_PRE + r"'([^']*)'"
HREF_UQ_RE = _A_PRE + r"([^ \t\n\x0B\f\r>\"'][^ \t\n\x0B\f\r>]*)"
# kept name for the canonical (double-quoted) form
HREF_RE = HREF_DQ_RE

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*):"
_ORIGIN_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"

# first <base href> in the page (the HTML spec: first occurrence
# wins).  ONE alternation over the three attribute forms so all three
# group extracts anchor at the SAME first match — a page mixing quote
# styles still honors document order.
_BASE_PRE = r"<[Bb][Aa][Ss][Ee][ \t\n\x0B\f\r](?:[^>]*[ \t\n\x0B\f\r])?href="
BASE_HREF_RE = (
    _BASE_PRE
    + "(?:\"([^\"]*)\"|'([^']*)'"
    + r"|([^ \t\n\x0B\f\r>\"'][^ \t\n\x0B\f\r>]*))"
)

# a path segment run containing '.' or '..' — the guard that keeps the
# §5.2.4 fold off the common no-dot-segment path
_DOTSEG_RE = r"/\.\.?(/|$)"


def _strip_url_ws(col: Column) -> Column:
    """The HTML URL parser's preprocessing: remove ALL interior ASCII
    tab/newline (an href split across source lines is one URL), then
    strip leading/trailing C0-control-or-space."""
    return F.regexp_replace(
        F.regexp_replace(col, r"[\t\n\r]", ""),
        r"^[\x00-\x20]+|[\x00-\x20]+$",
        "",
    )


def _remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 over an absolute path column: fold the
    '/'-split segments — '.' drops, '..' pops (never past the root),
    anything else appends; a trailing '.'/'..' leaves a trailing
    slash.  In-row, order-dependent by construction (a fold, not an
    aggregate), bounded by the segment count of one path."""
    segs = F.split(path, "/")
    folded = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(s == ".", acc)
        .when(
            s == "..",
            F.slice(
                acc, F.lit(1), F.greatest(F.size(acc) - 1, F.lit(1))
            ),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    last = F.element_at(segs, -1)
    folded = F.when(
        last.isin(".", ".."), F.concat(folded, F.array(F.lit("")))
    ).otherwise(folded)
    return F.array_join(folded, "/")


def extract_links(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    keep: list | None = None,
) -> DataFrame:
    """One row per anchor: (keep..., href, link_url, link_host).

    href is the attribute value after the HTML URL preprocessing
    (interior tab/newline removed, surrounding whitespace stripped)
    minus its fragment; link_url is the RFC 3986 §5.2 resolution
    against the page's EFFECTIVE base — the first ``<base href>`` when
    present (itself resolved against the page URL, per the HTML spec),
    else the page URL: absolute kept, ``//host`` inherits the base
    scheme, ``/path`` joins the base origin, ``?query`` joins the
    base's whole path (§5.3), anything else joins the base DIRECTORY;
    ``.``/``..`` dot segments are then removed per §5.2.4.  link_host
    is the lowercased authority of the resolution.
    mailto:/javascript:/data: and every other non-http(s) scheme is
    dropped, as are empty and fragment-only hrefs.

    Pure column algebra over a regexp explode — each multi-referenced
    intermediate is a NAMED column (the no-CSE staging discipline), so
    the resolution CASE evaluates each regex once per link, the
    per-page base work happens BEFORE the per-anchor explode, and the
    §5.2.4 fold runs only on rows whose URL actually contains a dot
    segment.  All three HTML attribute forms extract (href="x",
    href='x', href=x); an anchor matches at most one (the quote
    character decides)."""

    def _dir_of(nofq: Column, origin: Column) -> Column:
        # directory: origin + path up to the LAST '/', query/fragment
        # dropped; a bare origin resolves relative hrefs under '/'
        return F.when(
            F.regexp_extract(
                nofq, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/.*/)", 1
            )
            == "",
            F.concat(origin, F.lit("/")),
        ).otherwise(
            F.concat(
                origin,
                F.regexp_extract(
                    nofq,
                    r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+((/[^/]*)*/)",
                    1,
                ),
            )
        )

    # ---- per-page: effective base from the first <base href> ----
    s0 = pages.select(
        *(keep or []),
        F.col(html_col).alias("__html"),
        _strip_url_ws(F.col(url_col)).alias("__purl"),
    ).withColumn(
        "__bh",
        F.regexp_replace(
            _strip_url_ws(
                F.coalesce(
                    F.nullif(
                        F.regexp_extract(F.col("__html"), BASE_HREF_RE, 1),
                        F.lit(""),
                    ),
                    F.nullif(
                        F.regexp_extract(F.col("__html"), BASE_HREF_RE, 2),
                        F.lit(""),
                    ),
                    F.nullif(
                        F.regexp_extract(F.col("__html"), BASE_HREF_RE, 3),
                        F.lit(""),
                    ),
                    F.lit(""),
                )
            ),
            r"#.*$",
            "",
        ),
    ).withColumns(
        {
            "__pnofq": F.regexp_replace(F.col("__purl"), r"[?#].*$", ""),
            "__porigin": F.regexp_extract(F.col("__purl"), _ORIGIN_RE, 1),
            "__pscheme": F.regexp_extract(
                F.col("__purl"), r"^([A-Za-z]+):", 1
            ),
        }
    )
    s0 = s0.withColumn(
        "__pdir", _dir_of(F.col("__pnofq"), F.col("__porigin"))
    )
    eff_base = (
        F.when(F.col("__bh") == "", F.col("__purl"))
        .when(
            F.regexp_extract(F.col("__bh"), _SCHEME_RE, 1) != "",
            F.col("__bh"),
        )
        .when(
            F.col("__bh").startswith("//"),
            F.concat(F.col("__pscheme"), F.lit(":"), F.col("__bh")),
        )
        .when(
            F.col("__bh").startswith("/"),
            F.concat(F.col("__porigin"), F.col("__bh")),
        )
        .otherwise(F.concat(F.col("__pdir"), F.col("__bh")))
    )
    href0 = F.explode(
        F.concat(
            F.regexp_extract_all(
                F.col("__html"), F.lit(HREF_DQ_RE), F.lit(1)
            ),
            F.regexp_extract_all(
                F.col("__html"), F.lit(HREF_SQ_RE), F.lit(1)
            ),
            F.regexp_extract_all(
                F.col("__html"), F.lit(HREF_UQ_RE), F.lit(1)
            ),
        )
    ).alias("__href0")
    s1 = s0.select(*(keep or []), eff_base.alias("__base"), href0)
    s2 = s1.withColumns(
        {
            # HTML URL preprocessing first (so a scheme split across
            # source lines reassembles), then fragment off, then any
            # whitespace the fragment was shielding trimmed
            "href": F.regexp_replace(
                F.regexp_replace(
                    _strip_url_ws(F.col("__href0")), r"#.*$", ""
                ),
                r"[\x00-\x20]+$",
                "",
            ),
            "__scheme": F.lower(
                F.regexp_extract(
                    _strip_url_ws(F.col("__href0")), _SCHEME_RE, 1
                )
            ),
            "__origin": F.regexp_extract(F.col("__base"), _ORIGIN_RE, 1),
            "__bnofq": F.regexp_replace(F.col("__base"), r"[?#].*$", ""),
        }
    ).filter(
        (F.length("href") > 0)
        & (F.col("__scheme").isin("", "http", "https"))
        # '//host/x' has no scheme but is NOT scheme-relative garbage;
        # 'x:y' paths never reach here (matched as a scheme and kept
        # only for http/https)
    )
    base_scheme = F.regexp_extract(F.col("__base"), r"^([A-Za-z]+):", 1)
    s3 = s2.withColumn(
        "__dir", _dir_of(F.col("__bnofq"), F.col("__origin"))
    )
    link_url = (
        F.when(F.col("__scheme") != "", F.col("href"))
        .when(
            F.col("href").startswith("//"),
            F.concat(base_scheme, F.lit(":"), F.col("href")),
        )
        .when(
            F.col("href").startswith("/"),
            F.concat(F.col("__origin"), F.col("href")),
        )
        .when(
            # query-only reference: base path WHOLE, not its directory
            # (RFC 3986 §5.3)
            F.col("href").startswith("?"),
            F.concat(F.col("__bnofq"), F.col("href")),
        )
        .otherwise(F.concat(F.col("__dir"), F.col("href")))
    )
    s4 = s3.withColumn("__lraw", link_url)
    # §5.2.4 remove_dot_segments — guarded: the fold touches only rows
    # whose resolved URL contains '/./' or '/../' (or ends in a dot
    # segment); everything else passes through the cheap branch
    lorigin = F.regexp_extract(F.col("__lraw"), _ORIGIN_RE, 1)
    lpath = F.regexp_extract(
        F.col("__lraw"),
        r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)",
        1,
    )
    lquery = F.regexp_extract(F.col("__lraw"), r"(\?.*)$", 1)
    s5 = s4.withColumn(
        "link_url",
        F.when(
            F.col("__lraw").rlike(_DOTSEG_RE),
            F.concat(lorigin, _remove_dot_segments(lpath), lquery),
        ).otherwise(F.col("__lraw")),
    )
    return s5.select(
        *(keep or []),
        "href",
        "link_url",
        F.lower(F.regexp_extract(F.col("link_url"), _HOST_RE, 1)).alias(
            "link_host"
        ),
    ).filter(F.col("link_host") != "")


def host_graph(
    links: DataFrame,
    src_url_col: str = "src_url",
    link_host_col: str = "link_host",
) -> DataFrame:
    """(links with a source-page URL) -> (src_host, dst_host, n_links):
    the host-level webgraph, self-loops dropped.  One map-side-
    combinable aggregation."""
    src_host = F.lower(
        F.regexp_extract(F.col(src_url_col), _HOST_RE, 1)
    ).alias("src_host")
    return (
        links.select(src_host, F.col(link_host_col).alias("dst_host"))
        .filter(
            (F.col("src_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    partitions: int | None = None,
    checkpoint_every: int = 1,
    weight_col: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-point integer PageRank over the distinct (src, dst) edge
    set: returns (node, score) with score in ``scale`` fixed-point
    units of probability mass (sum over nodes ≈ scale, minus floor
    losses).

    ``weight_col``: when set (e.g. host_graph's n_links), parallel
    edges merge by SUMMING their integer weights and each edge carries
    share = (score · w) div W_src instead of the uniform split — the
    weighted host-graph variant.  Weights must be positive integers
    with max_w · scale < 2^63 (at the default scale, w up to ~9e6);
    larger multiplicities should be capped upstream — a host linking
    a neighbour nine million times is boilerplate, not signal.

    Per iteration, pinned exactly (the oracle twin unrolls the same):

        share(src)    = score(src) div outdeg(src)
        incoming(dst) = Σ share(src) over in-edges
        dangling      = Σ score(v) over v with outdeg 0
        score'(node)  = ((den-num)·(scale div n)) div den
                        + (num·(incoming + dangling div n)) div den

    with n = |nodes| and every division BIGINT floor division — see
    the module docstring for why fixed-point (order-independent,
    hash-gateable) and how each stage scales.

    ``seeds``: a one-column frame of node ids makes this PERSONALIZED
    PageRank (random walk with restart to the seed set — the crawl
    seed-expansion / topical-authority variant): the teleport term and
    the dangling redistribution go ONLY to seeds (scale div |S∩nodes|
    each; |S| replaces n in both), initial mass starts on the seeds,
    and non-seed scores decay to pure link-derived mass.  seeds=None
    is exactly the uniform case (every node a seed, s = n — the
    formulas are one code path, so the oracle-gated arithmetic cannot
    drift between variants).  The seed frame must intersect the
    graph's nodes: with zero surviving seeds the in-plan ``div s``
    yields NULL scores rather than raising (nothing collects, so
    there is no driver-side count to validate against).

    ``checkpoint_every``: scores are localCheckpoint'ed every K
    iterations. The score frame feeds THREE consumers per iteration
    (shares, dangling, the final join), so an un-checkpointed
    iteration is RE-EXECUTED by each consumer of the next — its
    2M-edge join runs 3x (measured on the rung graph: 5 iterations
    24.1s at K=2 vs linear ~2.5s/iter at K=1; and 30s at K=5 on even
    the 57-node gate, where 3^5 subtree copies drown planning). K=1
    is the default: one materialization job per iteration, each edge
    join runs once. K=2 only wins on toy graphs where per-job
    scheduling dominates real work.

    ``partitions``: when set, the edge set is repartitioned by source
    to this width. The session conf is never written, so concurrent
    queries on the same session are unaffected."""
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    ) if weight_col is None else (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    if partitions:
        e = e.repartition(partitions, "src")
    cached: list = []
    try:
        e = e.persist()
        cached.append(e)
        odeg_agg = (
            F.count(F.lit(1)) if weight_col is None else F.sum("w")
        )
        outdeg = e.groupBy("src").agg(odeg_agg.alias("odeg")).persist()
        cached.append(outdeg)
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        cached.append(nodes)
        # the dangling node SET is static across iterations (outdeg
        # never changes) — resolve it once, not one anti-join per round
        dangset = nodes.join(
            outdeg, F.col("node") == F.col("src"), "left_anti"
        ).persist()
        cached.append(dangset)
        # one-row frames broadcast into the plan: NOTHING collects
        # seed flags ride the node frame (one code path: uniform
        # PageRank IS the all-seeds case, s = n)
        if seeds is not None:
            seed_nodes = (
                seeds.select(F.col(seeds.columns[0]).alias("node"))
                .distinct()
                .withColumn("__s", F.lit(True))
            )
            flagged = (
                nodes.join(seed_nodes, "node", "left_outer")
                .select(
                    "node",
                    F.coalesce("__s", F.lit(False)).alias("is_seed"),
                )
                .persist()
            )
        else:
            flagged = nodes.withColumn("is_seed", F.lit(True)).persist()
        cached.append(flagged)
        cnt = flagged.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_seed"), 1).otherwise(0))
            .cast("long")
            .alias("s"),
        )
        base = F.when(
            F.col("is_seed"),
            F.expr(
                f"(({damping_den - damping_num}) * ({scale} div s))"
                f" div {damping_den}"
            ),
        ).otherwise(F.lit(0))
        init = F.when(
            F.col("is_seed"), F.expr(f"{scale} div s")
        ).otherwise(F.lit(0))
        scores = flagged.crossJoin(F.broadcast(cnt)).select(
            "node", init.cast("long").alias("score")
        )
        for t in range(iterations):
            if weight_col is None:
                shares = (
                    scores.join(outdeg, F.col("node") == F.col("src"))
                    .select("src", F.expr("score div odeg").alias("share"))
                )
                contribs = e.join(shares, "src").select("dst", "share")
            else:
                per_src = scores.join(
                    outdeg, F.col("node") == F.col("src")
                ).select("src", "score", "odeg")
                contribs = e.join(per_src, "src").select(
                    "dst", F.expr("(score * w) div odeg").alias("share")
                )
            incoming = contribs.groupBy("dst").agg(
                F.sum("share").alias("incoming")
            )
            dang = dangset.join(scores, "node").agg(
                F.coalesce(F.sum("score"), F.lit(0)).alias("dang")
            )
            scores = (
                flagged.join(
                    incoming, F.col("node") == F.col("dst"), "left_outer"
                )
                .crossJoin(F.broadcast(dang))
                .crossJoin(F.broadcast(cnt))
                .select(
                    "node",
                    (
                        base
                        + F.expr(
                            f"({damping_num} * (coalesce(incoming, 0)"
                            f" + (case when is_seed then dang div s"
                            f" else 0 end))) div {damping_den}"
                        )
                    )
                    .cast("long")
                    .alias("score"),
                )
            )
            if (t + 1) % checkpoint_every == 0 or t == iterations - 1:
                scores = scores.localCheckpoint(eager=True)
        return scores
    finally:
        # an exception mid-iteration must not leak five cached frames
        # for the session lifetime (r11 advisory)
        for frame in cached:
            frame.unpersist()


def pagerank_sql(
    edges_cte: str,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> str:
    """The ANSI-SQL twin of ``pagerank`` for the DuckDB oracle:
    ``edges_cte`` must define a relation ``edges(src, dst)`` (already
    self-loop-free and distinct); iterations are UNROLLED as chained
    CTEs replaying the identical BIGINT floor-division arithmetic."""
    num, den = damping_num, damping_den
    parts = [
        edges_cte,
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "cnt AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src)",
        f"s0 AS (SELECT node, {scale} // n AS score"
        " FROM nodes CROSS JOIN cnt)",
    ]
    for t in range(iterations):
        parts.append(
            f"inc{t} AS (SELECT e.dst AS node,"
            f" SUM(s.score // o.odeg) AS incoming"
            f" FROM edges e JOIN s{t} s ON e.src = s.node"
            f" JOIN outdeg o ON o.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"dang{t} AS (SELECT COALESCE(SUM(s.score), 0) AS dang"
            f" FROM s{t} s LEFT JOIN outdeg o ON s.node = o.src"
            f" WHERE o.src IS NULL)"
        )
        parts.append(
            f"s{t + 1} AS (SELECT nd.node,"
            f" (({den - num}) * ({scale} // c.n)) // {den}"
            f" + ({num} * (COALESCE(i.incoming, 0) + d.dang // c.n))"
            f" // {den} AS score"
            f" FROM nodes nd CROSS JOIN cnt c CROSS JOIN dang{t} d"
            f" LEFT JOIN inc{t} i ON nd.node = i.node)"
        )
    body = ",\n            ".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT node, CAST(score AS BIGINT) AS score"
        f" FROM s{iterations}"
    )


def host_degree_stats(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """Per-host webgraph degrees over the distinct edge set:
    (node, out_degree, in_degree, reciprocal_degree) — the summary
    table a crawl publishes alongside its host graph (degree
    distributions, reciprocity) and the input to frontier-priority
    heuristics that do not need a full PageRank.

    reciprocal_degree counts neighbours linked in BOTH directions
    (|{u : v->u AND u->v}|) — computed by self-joining the distinct
    edge set against its transpose on the (src, dst) pair, which
    shuffles each edge once on the SAME composite key both sides
    (never a per-node neighbour list: hub hosts would materialize
    million-element arrays).  Self-loops are excluded throughout,
    matching ``pagerank``."""
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # e feeds FOUR plan branches (out/in degrees + both sides of the
    # reciprocity self-join) and Spark does no cross-branch CSE — an
    # expensive upstream (extract_links' regex pipeline) would run
    # four times without the checkpoint
    e = reuse_checkpoint(e)
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    recip = (
        e.alias("a")
        .join(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).alias("b"),
            ["src", "dst"],
        )
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("reciprocal_degree"))
    )
    return (
        out_deg.join(in_deg, "node", "full_outer")
        .join(recip, "node", "left_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("reciprocal_degree", F.lit(0)).alias(
                "reciprocal_degree"
            ),
        )
    )
