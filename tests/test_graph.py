"""Link-graph + PageRank operators (operators/graph.py): URL
resolution rules, host aggregation, and the fixed-point integer
PageRank against a pure-Python replay of the pinned arithmetic."""
from pyspark.sql import functions as F

from riskloc_spark.operators.graph import (
    extract_links,
    host_graph,
    pagerank,
)


def _page(url, html):
    return (url, html)


def test_extract_links_resolution_rules(spark):
    pages = spark.createDataFrame(
        [
            (
                "https://Host.COM/dir/sub/page.html?q=1#frag",
                '<html><a href="https://abs.org/x">a</a>'
                '<a href="//proto.net/y">b</a>'
                '<a href="/root/z">c</a>'
                '<a href="rel.html">d</a>'
                '<a href="../up.html">e</a>'
                '<a href="https://f.org/p#sec">f</a>'
                '<a href="mailto:x@y.z">g</a>'
                '<a href="javascript:void(0)">h</a>'
                '<a href="#top">i</a></html>',
            )
        ],
        "url string, html string",
    )
    rows = {
        r["href"]: (r["link_url"], r["link_host"])
        for r in extract_links(pages).collect()
    }
    assert rows == {
        "https://abs.org/x": ("https://abs.org/x", "abs.org"),
        "//proto.net/y": ("https://proto.net/y", "proto.net"),
        "/root/z": ("https://Host.COM/root/z", "host.com"),
        "rel.html": ("https://Host.COM/dir/sub/rel.html", "host.com"),
        # RFC 3986 §5.2.4: '..' pops the base directory
        "../up.html": ("https://Host.COM/dir/up.html", "host.com"),
        "https://f.org/p": ("https://f.org/p", "f.org"),
    }


def test_extract_links_bare_origin_base(spark):
    pages = spark.createDataFrame(
        [("https://h.com", '<a href="x.html">r</a><a href="/y">s</a>')],
        "url string, html string",
    )
    rows = {r["href"]: r["link_url"] for r in extract_links(pages).collect()}
    assert rows == {"x.html": "https://h.com/x.html", "/y": "https://h.com/y"}


def test_host_graph_drops_self_loops_and_counts(spark):
    links = spark.createDataFrame(
        [
            ("https://a.com/p", "b.com"),
            ("https://a.com/q", "b.com"),
            ("https://A.com/r", "a.com"),  # self-loop after lowering
            ("https://b.com/s", "a.com"),
        ],
        "src_url string, link_host string",
    )
    rows = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph(links).collect()
    }
    assert rows == {("a.com", "b.com"): 2, ("b.com", "a.com"): 1}


def _pagerank_py(edges, iterations=5, num=85, den=100, scale=10**12):
    """Driver-side replay of the pinned BIGINT arithmetic (the same
    role as conftest.union_find_groups for the dedup tests)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    score = {v: scale // n for v in nodes}
    base = ((den - num) * (scale // n)) // den
    for _ in range(iterations):
        inc = {v: 0 for v in nodes}
        for s, d in edges:
            inc[d] += score[s] // out[s]
        dang = sum(score[v] for v in nodes if v not in out)
        score = {
            v: base + (num * (inc[v] + dang // n)) // den for v in nodes
        }
    return score


def test_pagerank_matches_python_replay_with_dangling(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("a", "d"), ("b", "d"),  # d has NO out-edges: dangling
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["score"]
        for r in pagerank(df, "src", "dst", iterations=5).collect()
    }
    assert got == _pagerank_py(edges)
    # fixed-point mass: total stays within floor losses of the scale
    assert 0 <= 10**12 - sum(got.values()) < 100 * len(got)
    # c receives from both a and b; it must outrank b (one in-edge)
    assert got["c"] > got["b"]


def test_pagerank_partitioning_invariant(spark):
    edges = [(f"n{i}", f"n{(i * 3 + 1) % 11}") for i in range(11)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {r["node"]: r["score"] for r in pagerank(df, "src", "dst").collect()}
    b = {
        r["node"]: r["score"]
        for r in pagerank(
            df.repartition(7), "src", "dst", partitions=3
        ).collect()
    }
    assert a == b


def test_pagerank_never_writes_session_conf(spark, monkeypatch):
    """pagerank must not touch session-global conf: a concurrent query on
    the same session would compile with the changed value."""
    from pyspark.sql.conf import RuntimeConfig

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")

    def refuse(self, key, value):
        raise AssertionError(f"pagerank set session conf {key}={value}")

    monkeypatch.setattr(RuntimeConfig, "set", refuse)
    got = {
        r["node"]: r["score"]
        for r in pagerank(df, "src", "dst", partitions=3).collect()
    }
    assert got == _pagerank_py(edges)


def test_pagerank_self_loops_and_duplicate_edges_ignored(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "a"), ("b", "a")],
        "src string, dst string",
    )
    got = {r["node"]: r["score"] for r in pagerank(df, "src", "dst").collect()}
    assert got == _pagerank_py([("a", "b"), ("b", "a")])


def test_extract_links_quote_forms_and_attr_boundaries(spark):
    """All three HTML attribute forms extract (double-quoted,
    single-quoted, unquoted); suffix attributes (data-href=,
    xlink:href=) never false-positive."""
    pages = spark.createDataFrame(
        [
            (
                "https://base.org/d/p.html",
                "<a href='https://sq.org/x'>sq</a>"
                '<a rel=nofollow href=https://uq.org/y>uq</a>'
                '<a href="https://dq.org/z">dq</a>'
                '<a data-href="https://no.org/1">skip</a>'
                '<a xlink:href="https://no.org/2">skip</a>'
                '<div href="https://no.org/3">not-an-anchor</div>',
            )
        ],
        "url string, html string",
    )
    from riskloc_spark.operators.graph import extract_links

    got = sorted(r["link_url"] for r in extract_links(pages).collect())
    assert got == [
        "https://dq.org/z",
        "https://sq.org/x",
        "https://uq.org/y",
    ]


def _pagerank_weighted_py(
    wedges, iterations=5, num=85, den=100, scale=10**12
):
    nodes = sorted({s for s, _, _ in wedges} | {d for _, d, _ in wedges})
    wout = {}
    for s, _, w in wedges:
        wout[s] = wout.get(s, 0) + w
    n = len(nodes)
    score = {v: scale // n for v in nodes}
    base = ((den - num) * (scale // n)) // den
    for _ in range(iterations):
        inc = {v: 0 for v in nodes}
        for s, d, w in wedges:
            inc[d] += (score[s] * w) // wout[s]
        dang = sum(score[v] for v in nodes if v not in wout)
        score = {
            v: base + (num * (inc[v] + dang // n)) // den for v in nodes
        }
    return score


def test_pagerank_weighted_merges_parallel_edges(spark):
    """weight_col: parallel edges merge by weight sum, shares split
    proportionally; matches the driver replay, and heavier edges beat
    lighter ones."""
    df = spark.createDataFrame(
        [
            ("a", "b", 9), ("a", "c", 1),
            ("a", "b", 1),  # parallel: merges to w=10
            ("b", "a", 1), ("c", "a", 1),
        ],
        "src string, dst string, n long",
    )
    got = {
        r["node"]: r["score"]
        for r in pagerank(df, "src", "dst", weight_col="n").collect()
    }
    assert got == _pagerank_weighted_py(
        [("a", "b", 10), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)]
    )
    assert got["b"] > got["c"]


def test_host_degree_stats(spark):
    """out/in/reciprocal degrees over the distinct self-loop-free edge
    set; a dst-only node appears with out_degree 0."""
    from riskloc_spark.operators.graph import host_degree_stats

    df = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # reciprocal pair
            ("a", "c"), ("a", "c"),          # duplicate collapses
            ("c", "d"),                      # d: dst-only
            ("b", "b"),                      # self-loop: dropped
        ],
        "src string, dst string",
    )
    got = {
        r["node"]: (
            r["out_degree"], r["in_degree"], r["reciprocal_degree"]
        )
        for r in host_degree_stats(df, "src", "dst").collect()
    }
    assert got == {
        "a": (2, 1, 1),
        "b": (1, 1, 1),
        "c": (1, 1, 0),
        "d": (0, 1, 0),
    }


def _ppr_py(edges, seeds, iterations=5, num=85, den=100, scale=10**12):
    """Driver replay of personalized PageRank: teleport + dangling
    mass restricted to the seed set."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    S = sorted(set(seeds) & set(nodes))
    ns = len(S)
    score = {v: (scale // ns if v in S else 0) for v in nodes}
    for _ in range(iterations):
        inc = {v: 0 for v in nodes}
        for s, d in edges:
            inc[d] += score[s] // out[s]
        dang = sum(score[v] for v in nodes if v not in out)
        score = {
            v: (
                (((den - num) * (scale // ns)) // den if v in S else 0)
                + (num * (inc[v] + (dang // ns if v in S else 0))) // den
            )
            for v in nodes
        }
    return score


def test_personalized_pagerank_matches_replay_and_localizes(spark):
    """seeds: teleport + dangling mass go only to the seed set;
    matches the driver replay exactly, and mass concentrates near the
    seed (a seed-adjacent node outranks a distant one)."""
    # ring 0->1->2->...->7->0 plus chords from 0
    edges = [(f"n{i}", f"n{(i + 1) % 8}") for i in range(8)]
    edges += [("n0", "n4")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("n0",)], "node string")
    got = {
        r["node"]: r["score"]
        for r in pagerank(df, "src", "dst", seeds=seeds).collect()
    }
    assert got == _ppr_py(edges, ["n0"])
    # n1 is one hop from the seed; n6 is far around the ring
    assert got["n1"] > got["n6"]


def test_pagerank_all_seeds_equals_uniform(spark):
    """Passing every node as a seed reproduces the uniform variant
    bit-for-bit (one code path, s = n)."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    allseeds = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "node string"
    )
    uni = {r["node"]: r["score"] for r in pagerank(df, "src", "dst").collect()}
    per = {
        r["node"]: r["score"]
        for r in pagerank(df, "src", "dst", seeds=allseeds).collect()
    }
    assert uni == per


def test_extract_links_whitespace_trimmed(spark):
    """Surrounding ASCII whitespace in a quoted href is stripped (the
    HTML URL parser's rule): ' /x ' root-resolves, '\\n https://a.b/c'
    stays absolute."""
    pages = spark.createDataFrame(
        [
            (
                "https://h.com/d/p.html",
                '<a href=" /x ">a</a><a href="\n https://a.b/c">b</a>',
            )
        ],
        "url string, html string",
    )
    rows = {r["href"]: r["link_url"] for r in extract_links(pages).collect()}
    assert rows == {
        "/x": "https://h.com/x",
        "https://a.b/c": "https://a.b/c",
    }


def test_extract_links_base_href_and_query_ref(spark):
    """<base href> (first occurrence wins) replaces the page URL as
    the resolution base; '?query' refs take the base path WHOLE (RFC
    3986 §5.3), not its directory."""
    pages = spark.createDataFrame(
        [
            # absolute base tag: relative + root-relative + query refs
            # all resolve against it, not the page URL
            (
                "https://page.com/a/b.html?x=1",
                '<base href="https://based.org/dir/index.html">'
                '<a href="rel.html">r</a>'
                '<a href="/rooted">s</a>'
                '<a href="?page=2">t</a>',
            ),
            # base tag itself RELATIVE: resolved against the page URL
            # first (HTML spec), then used as the base
            (
                "https://page.com/a/b.html",
                "<base href='sub/'>"
                '<a href="x.html">u</a>',
            ),
            # second base tag must be ignored; single-quoted first
            (
                "https://page.com/c/d.html",
                "<base href='https://first.net/p/q.html'>"
                '<base href="https://second.net/">'
                '<a href="v.html">v</a>',
            ),
        ],
        "url string, html string",
    )
    rows = {
        r["href"]: r["link_url"] for r in extract_links(pages).collect()
    }
    assert rows == {
        "rel.html": "https://based.org/dir/rel.html",
        "/rooted": "https://based.org/rooted",
        "?page=2": "https://based.org/dir/index.html?page=2",
        "x.html": "https://page.com/a/sub/x.html",
        "v.html": "https://first.net/p/v.html",
    }


def test_extract_links_dot_segments(spark):
    """RFC 3986 §5.2.4 remove_dot_segments: '..' pops (never past the
    root), '.' drops, trailing dot segments leave a trailing slash —
    including inside ABSOLUTE hrefs."""
    pages = spark.createDataFrame(
        [
            (
                "https://h.com/a/b/c/page.html",
                '<a href="../../x.html">A</a>'
                '<a href="./y.html">B</a>'
                '<a href="../../../../z">C</a>'
                '<a href="d/..">D</a>'
                '<a href="https://abs.org/p/../q/./r">E</a>',
            )
        ],
        "url string, html string",
    )
    rows = {
        r["href"]: r["link_url"] for r in extract_links(pages).collect()
    }
    assert rows == {
        "../../x.html": "https://h.com/a/x.html",
        "./y.html": "https://h.com/a/b/c/y.html",
        # four '..' against a three-deep dir: clamped at the root
        "../../../../z": "https://h.com/z",
        "d/..": "https://h.com/a/b/c/",
        "https://abs.org/p/../q/./r": "https://abs.org/q/r",
    }


def test_extract_links_interior_whitespace(spark):
    """The HTML URL parser removes interior tab/newline before
    parsing: an href split across source lines is one URL, and its
    scheme is recognized after reassembly."""
    pages = spark.createDataFrame(
        [
            (
                "https://h.com/d/page.html",
                '<a href="ht\ntps://x.org/long\n/path">A</a>'
                '<a href="rel\t.html">B</a>',
            )
        ],
        "url string, html string",
    )
    rows = {
        r["href"]: (r["link_url"], r["link_host"])
        for r in extract_links(pages).collect()
    }
    assert rows == {
        "https://x.org/long/path": (
            "https://x.org/long/path",
            "x.org",
        ),
        "rel.html": ("https://h.com/d/rel.html", "h.com"),
    }
