"""⊕ Graph operators over the document web — link-graph authority
scoring, the curation signal pipelines like Common Crawl's ranking
stack derive from the hyperlink structure (harmonic centrality /
PageRank) and FineWeb-style pipelines consume as a per-domain quality
prior. The reference engine has no graph surface (its tables are
vector stores, /root/reference/vfs/src/vfs/storage_manager.rs); this
is ⊕ extension territory under SURVEY §2.2's contract: every op is
oracle-checked against DuckDB on the same fixture.

The fixture's documents table has no link column, so the edge set is
synthesized DETERMINISTICALLY from (doc_id, canonical URL) — each
document contributes one outlink from its canonical page to the
canonical page of a hash-derived partner doc — identically in both
engines (the dedup_url URL-synthesis discipline)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vfs_spark.dispatch import DRIVER_MAX, collect_under, pinned
from vfs_spark.queries.registry import query
from vfs_spark.queries.text import _URL_SYNTH_SQL, _synth_url_col, _url_norm_sql
from vfs_spark.sources.parquet import load_table, parquet_row_count, table_path

DAMPING = 0.85
N_ITERS = 3


def _edges(docs: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Deterministic page-level link graph: doc d links its canonical
    page to the canonical page of doc (d*17 + 13) mod n_docs (doc_ids
    are dense 0..n-1 in the fixture). DISTINCT + self-loop removal.
    ``n_docs`` is the row count of ``docs`` when the caller has it
    without a job (Parquet footers); otherwise it is counted."""
    from vfs_spark.functions.text import normalize_url

    base = docs.select(
        "doc_id", normalize_url(_synth_url_col()).alias("u")
    )
    n = n_docs if n_docs is not None else base.count()
    a = base.alias("a")
    b = base.select(
        F.col("doc_id").alias("_pid"), F.col("u").alias("dst")
    ).alias("b")
    return (
        a.join(b, (F.col("a.doc_id") * 17 + 13) % n == F.col("_pid"))
        .where(F.col("a.u") != F.col("dst"))
        .select(F.col("a.u").alias("src"), "dst")
        .distinct()
    )


def _pagerank_driver(
    edges: DataFrame, n_iters: int, damping: float
) -> tuple[DataFrame, int] | None:
    """NumPy pagerank for guard-sized graphs, with its node count;
    None above the guard."""
    import numpy as np
    import pandas as pd

    probe = collect_under(edges, DRIVER_MAX["pagerank_edges"])
    if probe is None:
        return None
    spark = edges.sparkSession
    if len(probe) == 0:
        return spark.createDataFrame([], schema="u string, r double"), 0
    codes, uniques = pd.factorize(
        pd.concat([probe["src"], probe["dst"]], ignore_index=True)
    )
    si = codes[: len(probe)]
    di = codes[len(probe):]
    n = len(uniques)
    outdeg = np.bincount(si, minlength=n)
    dangling = outdeg == 0
    safe_deg = np.where(dangling, 1, outdeg)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iters):
        contrib = np.zeros(n)
        np.add.at(contrib, di, r[si] / safe_deg[si])
        m = r[dangling].sum()
        r = (1.0 - damping) / n + damping * (contrib + m / n)
    ranks = spark.createDataFrame(
        pd.DataFrame({"u": np.asarray(uniques), "r": r}),
        schema="u string, r double",
    )
    return ranks, n


def pagerank(edges: DataFrame, n_iters: int = N_ITERS, damping: float = DAMPING) -> DataFrame:
    """Fixed-iteration PageRank with dangling-mass redistribution:
    each iteration is contribs = edges ⋈ ranks (shuffle on dst, the
    only data-sized exchange) plus a 1-row dangling-mass broadcast
    (crossJoin of a global agg — the sample_temperature scalar-attach
    idiom). At 100 TB the edge table lives partitioned by src so the
    ranks join co-locates, and iterations reuse that partitioning;
    n_iters is fixed (the curation-prior use case wants a handful of
    power iterations, not convergence detection — matching how web
    pipelines actually budget this job).

    ITERATIVE-LINEAGE discipline (the part that decides whether this
    survives a real edge table): each iteration's frontier is pinned
    with an EAGER localCheckpoint — the operators/bpe.py pattern —
    because iteration k's plan references ranks_{k-1} TWICE (under
    contribs and under the dangling agg) and chains k levels of
    1-row broadcast subtrees; left lazy, the interleaved
    broadcast-materialization jobs re-evaluate uncached ancestor
    subtrees and the 3-iteration chain stalled outright at 10M edges
    (measured; eager per-iteration materialization runs the same
    graph at ~3 s/iteration per 100k nodes). Fixture-sized oracles
    never see the difference; iterative operators are the one place
    the engine deliberately trades build-time laziness for a
    truncated lineage. Inputs (edges, deg, nodes) are pinned too — each
    is referenced once per iteration.

    Returns (u, rank) with rank UNROUNDED; callers round once at the
    boundary (the float policy).

    r16 optimization (guide §1.2, the connected_components dispatch
    applied to the rank iteration): a link graph at or under
    DRIVER_MAX["pagerank_edges"] collects ONCE (limit-guarded probe — the
    broadcast-build memory contract) and the power iterations run as
    vectorized NumPy on the driver: factorize nodes, np.add.at for
    the contribs, boolean mask for the dangling mass — the identical
    per-iteration formula, microseconds per round instead of ~6
    blocking distributed jobs (contribs join, dangling agg broadcast,
    frontier checkpoint) whose per-job floor dominated the fixture
    wall. Floating-point sum ORDER differs from the shuffled
    aggregation — exactly as it already differs between Spark and the
    DuckDB oracle — and the slugs' hash gate (ROUND(r,6) /
    micro-units) is the declared equality contract both paths meet.
    Above the guard the distributed loop (``pagerank_counted``) runs
    unchanged (at crawl scale the edge table is the corpus — that path
    is the 100 TB story; the driver path is the serving/fixture
    regime)."""
    return pagerank_counted(edges, n_iters, damping)[0]


def pagerank_counted(
    edges: DataFrame, n_iters: int = N_ITERS, damping: float = DAMPING
) -> tuple[DataFrame, int]:
    """``pagerank`` and its row count, the graph's node count. Both
    paths already hold it (the driver twin's node list, the distributed
    path's node count), so a caller that needs it runs no extra job."""
    cheap = _pagerank_driver(edges, n_iters, damping)
    if cheap is not None:
        return cheap
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (
        edges.select(F.col("src").alias("u"))
        .union(edges.select(F.col("dst").alias("u")))
        .distinct()
    )
    # the final frontier is eagerly materialized with truncated
    # lineage, so the input pins end with the loop; a caller's own
    # cached edges stay cached
    with pinned(edges, deg, nodes):
        n = nodes.count()
        # floored at 1: an empty graph yields empty ranks, as on the driver
        n_nodes = max(n, 1)
        ranks = nodes.select("u", F.lit(1.0 / n_nodes).alias("r"))
        for _ in range(n_iters):
            contribs = (
                edges.join(ranks, edges["src"] == ranks["u"])
                .join(deg, "src")
                .select(F.col("dst"), (F.col("r") / F.col("outdeg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("c"))
            )
            dang = (
                ranks.join(deg, ranks["u"] == deg["src"], "left_anti")
                .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("m"))
            )
            ranks = (
                nodes.join(contribs, nodes["u"] == contribs["dst"], "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "u",
                    (
                        F.lit((1.0 - damping) / n_nodes)
                        + damping
                        * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("m") / n_nodes)
                    ).alias("r"),
                )
                .localCheckpoint(eager=True)
            )
        return ranks, n


def _pr_edges_sql(base_cte: str = "base") -> str:
    """The PageRank prologue CTE chain. `base_cte` names the
    URL-normalization CTE so composers (the ranked-curation oracle,
    which has its own `base`) can pick a non-colliding name at build
    time — a textual post-hoc rename of the token `base` would
    silently rewrite any future occurrence inside the interpolated
    URL-synthesis / normalizer SQL (code-review r11 finding)."""
    return f"""
{base_cte} AS (
  SELECT doc_id, {_url_norm_sql(_URL_SYNTH_SQL)} AS u FROM documents
),
nn AS (SELECT COUNT(*) AS n FROM documents),
edges AS (
  SELECT DISTINCT a.u AS src, b.u AS dst
  FROM {base_cte} a JOIN nn ON TRUE
  JOIN {base_cte} b ON b.doc_id = (a.doc_id * 17 + 13) % nn.n
  WHERE a.u <> b.u
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT u FROM (SELECT src AS u FROM edges
                                  UNION SELECT dst FROM edges)),
nc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)
"""


_PR_EDGES_SQL = _pr_edges_sql()


def _pr_iter_sql(k: int) -> str:
    # the literals interpolate from the SAME module constants the
    # Spark side uses — hardcoding 0.85/0.15 or the iteration tuple
    # would leave N_ITERS/DAMPING decorative and silently diverge the
    # engines when changed (code-review r9 finding)
    prev = f"r{k - 1}"
    return f"""
c{k} AS (
  SELECT e.dst AS u, SUM(r.r / d.outdeg) AS c
  FROM edges e JOIN {prev} r ON r.u = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
m{k} AS (
  SELECT COALESCE(SUM(r.r), 0) AS m
  FROM {prev} r LEFT JOIN deg d ON d.src = r.u WHERE d.src IS NULL
),
r{k} AS (
  SELECT nodes.u,
         {1.0 - DAMPING!r} / nc.n
           + {DAMPING!r} * (COALESCE(c{k}.c, 0) + m{k}.m / nc.n) AS r
  FROM nodes CROSS JOIN nc CROSS JOIN m{k}
  LEFT JOIN c{k} ON c{k}.u = nodes.u
)"""


_PR_ORACLE = (
    "WITH "
    + _PR_EDGES_SQL
    + ",\nr0 AS (SELECT u, 1.0 / nc.n AS r FROM nodes CROSS JOIN nc),"
    + ",".join(_pr_iter_sql(k) for k in range(1, N_ITERS + 1))
    + f"\nSELECT u, ROUND(r, 6) AS rank FROM r{N_ITERS}"
)


@query("graph_pagerank_urls", oracle=_PR_ORACLE)
def q_graph_pagerank_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the synthesized page-level link graph (3 power
    iterations, damping 0.85, dangling mass redistributed uniformly) —
    the link-authority quality prior curation pipelines attach per
    domain/page before sampling. Rounded once at the boundary; the
    oracle unrolls the same three iterations as CTEs, so the two
    engines walk identical arithmetic."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    n_docs = parquet_row_count(table_path(sf_dir, "documents"))
    ranks = pagerank(_edges(docs, n_docs))
    return ranks.select("u", F.round("r", 6).alias("rank"))


# ---------------------------------------------------------------------------
# PageRank prior composed into the curation pipeline (round-11, VERDICT
# r10 task #6): the temperature mixture's per-source weights are scaled
# by the mean link-authority of each source's SURVIVING pages — how
# production curation stacks actually consume a rank signal (FineWeb /
# Common Crawl rank priors weight the sampler, they don't hard-filter).
# The oracle splices the graph_pagerank_urls CTE chain (renamed to
# avoid colliding with the curation `base` CTE) in front of
# pipeline_curation_full's stage CTEs, so both priors stay pinned to
# the exact arithmetic their standalone slugs already hash-check.
# ---------------------------------------------------------------------------

from vfs_spark.queries.text import _FP, _SHINGLES5, _STOP, _TOKS

# The rank floor for pages ABSENT from the link graph (no in/out
# edges survive self-loop removal): PageRank's teleport mass (1-d)/n,
# expressed RELATIVE to the uniform rank 1/n — i.e. (1-d) — in
# integer micro-units. Relative ranks make the mixture arithmetic
# scale-free (an average page reads ~1e6 at any graph size, where an
# absolute rank shrinks as 1/n_pages) and keep every source weight
# strictly positive.
_RANK_FLOOR_U6 = int(round((1.0 - DAMPING) * 1_000_000))


def _curation_ranked_oracle() -> str:
    pr_ctes = (
        _pr_edges_sql("prbase")
        + ",\nr0 AS (SELECT u, 1.0 / nc.n AS r FROM nodes CROSS JOIN nc),"
        + ",".join(_pr_iter_sql(k) for k in range(1, N_ITERS + 1))
    )
    return (
        "WITH "
        + pr_ctes
        + f""",
pr AS (
  SELECT u, CAST(ROUND(r * nc.n * 1000000, 0) AS BIGINT) AS rank_u6
  FROM r{N_ITERS} CROSS JOIN nc
),
base AS (
  SELECT doc_id, text, source, {_TOKS} AS t,
         {_url_norm_sql(_URL_SYNTH_SQL)} AS u, {_FP} AS fp
  FROM documents WHERE doc_id >= 10
),
u1 AS (
  SELECT b.* FROM base b
  JOIN (SELECT u, MIN(doc_id) AS doc_id FROM base GROUP BY u) ku
    USING (u, doc_id)
),
q1 AS (
  SELECT doc_id, text, source, u, t, fp FROM u1
  WHERE CAST(len(t) AS BIGINT) BETWEEN 10 AND 100000
    AND (CAST(len(array_to_string(t, '')) AS DOUBLE) / len(t))
          BETWEEN 3.0 AND 10.0
    AND CAST(len(list_filter(t, x -> x IN {_STOP})) AS DOUBLE) / len(t)
          >= 0.02
    AND CAST(len(list_filter(t, x -> regexp_matches(x, '[^a-z0-9]')))
             AS DOUBLE) / len(t) <= 0.1
    AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.3
),
d1 AS (
  SELECT q.* FROM q1 q
  JOIN (SELECT fp, MIN(doc_id) AS doc_id FROM q1 GROUP BY fp) kf
    USING (fp, doc_id)
),
ev AS (
  SELECT DISTINCT unnest({_SHINGLES5}) AS g
  FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id < 10)
),
contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({_SHINGLES5}) AS g
        FROM (SELECT doc_id, t AS toks FROM d1)) c
  JOIN ev USING (g)
),
d2 AS (
  SELECT d.doc_id, d.source, CAST(len(d.t) AS BIGINT) AS n,
         CAST(('0x' || substr(md5(d.text), 1, 8)) AS BIGINT) % 1000000 AS h,
         COALESCE(pr.rank_u6, {_RANK_FLOOR_U6}) AS rank_u6
  FROM d1 d LEFT JOIN pr ON pr.u = d.u
  WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS src_tokens,
         CAST(SUM(rank_u6) AS BIGINT) AS rank_mass_u6,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM d2 GROUP BY source
),
w AS (
  SELECT source, src_tokens,
         CAST(FLOOR(SQRT(CAST(src_tokens AS DOUBLE))
              * (CAST(rank_mass_u6 AS DOUBLE) / CAST(n_docs AS DOUBLE)))
              AS BIGINT) AS w6
  FROM tot
),
tw AS (
  SELECT CAST(SUM(w6) AS BIGINT) AS sum_w6,
         CAST(SUM(src_tokens) AS BIGINT) AS total_tokens
  FROM w
),
cut AS (
  SELECT source,
         LEAST(CAST(1000000 AS BIGINT),
               CAST(ROUND(1000000.0 * ((CAST(w6 AS DOUBLE) / sum_w6)
                          * (CAST(total_tokens AS DOUBLE) * 0.5)
                          / src_tokens), 0) AS BIGINT)) AS cutoff
  FROM w, tw
)
SELECT d.doc_id, d.source, d.n AS n_tokens, d.rank_u6
FROM d2 d JOIN cut c USING (source)
WHERE d.h < c.cutoff
"""
    )


@query("pipeline_curation_ranked", oracle=_curation_ranked_oracle())
def q_pipeline_curation_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_curation_full with the PageRank link prior composed
    into the temperature mixture: after URL dedup → Gopher gate →
    exact dedup → decontamination (stage-for-stage identical to the
    batch pipeline, queries/text.py), each source's sampling weight
    becomes sqrt(src_tokens) × mean RELATIVE page-rank of its
    SURVIVING documents' canonical pages. Relative rank = r × n_pages
    (~1e6 micro-units for an average page at ANY graph size — the
    scale-free form; an absolute rank shrinks as 1/n_pages and would
    make the weight arithmetic graph-size-dependent), rounded ONCE at
    the PageRank boundary — the graph_pagerank_urls rounding
    discipline — so the rank mass sums exactly. Pages absent from the
    link graph floor at the teleport mass (1-d)·1e6 = 150_000
    (_RANK_FLOOR_U6), keeping every source weight strictly positive.
    A source whose surviving pages carry more link authority gets
    proportionally more of the half-corpus token budget; the cutoff
    arithmetic is byte-identical to _temperature_cutoffs' double
    expression, both engines evaluating the same operations in the
    same order. Precondition: a non-empty link graph (any real crawl;
    the URL synthesis guarantees it on the fixture).

    Scale shape: the rank join adds ONE key-only shuffle of
    (u, rank_u6) against the slim survivor manifest — at 100 TB the
    rank table is |pages|-sized (not broadcastable) but the join
    carries ids and 8-byte ranks, never text; every other stage keeps
    pipeline_curation_full's documented exchanges.
    Output: the loader manifest (doc_id, source, n_tokens, rank_u6)."""
    from pyspark.sql.window import Window

    from vfs_spark.functions.text import (
        fingerprint,
        normalize_url,
        tokens,
        word_shingles,
    )
    from vfs_spark.queries.text import (
        _gopher_metric_cols,
        _gopher_pass_cond,
        _synth_url_col,
    )

    docs_all = load_table(spark, sf_dir, "documents", fan_out=True)
    docs = docs_all.where(F.col("doc_id") >= 10)
    toks = tokens("text")
    pass_q = _gopher_pass_cond()
    slim = docs.select(
        "doc_id",
        "source",
        normalize_url(_synth_url_col()).alias("u"),
        fingerprint("text").alias("fp"),
        *_gopher_metric_cols(toks),
        (
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
            % 1000000
        ).alias("h"),
    )
    wu = Window.partitionBy("u").orderBy("doc_id")
    q1 = (
        slim.withColumn("rn", F.row_number().over(wu))
        .where((F.col("rn") == 1) & pass_q)
        .select("doc_id", "source", "u", "fp", "n_tokens", "h")
    )
    wf = Window.partitionBy("fp").orderBy("doc_id")
    d1 = (
        q1.withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    ev = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 10)
        .select(F.explode(word_shingles("text", 5)).alias("g"))
        .distinct()
    )
    contaminated = (
        docs.select("doc_id", F.explode(word_shingles("text", 5)).alias("g"))
        .join(F.broadcast(ev), "g")
        .select("doc_id")
        .distinct()
    )
    n_docs = parquet_row_count(table_path(sf_dir, "documents"))
    ranks = relative_rank_u6(docs_all, n_docs)
    d2 = (
        d1.join(contaminated, "doc_id", "left_anti")
        .join(ranks, "u", "left")
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").alias("n"),
            "h",
            F.coalesce(F.col("rank_u6"), F.lit(_RANK_FLOOR_U6))
            .cast("bigint")
            .alias("rank_u6"),
        )
    )
    return ranked_mixture_manifest(d2)


def relative_rank_u6(
    docs_all: DataFrame, n_docs: int | None = None
) -> DataFrame:
    """(u, rank_u6) over the synthesized page link graph, in RELATIVE
    integer micro-units (r × n_pages × 1e6 — scale-free: an average
    page reads ~1e6 at any graph size; see _RANK_FLOOR_U6). The ONE
    place the ranked-curation twins (batch pipeline_curation_ranked
    and the streaming manifest view) get their rank table, so the two
    can never drift. ``n_docs`` as in ``_edges``."""
    pr, n_nodes = pagerank_counted(_edges(docs_all, n_docs))
    return pr.select(
        "u",
        F.round(F.col("r") * F.lit(float(n_nodes)) * 1000000.0, 0)
        .cast("bigint")
        .alias("rank_u6"),
    )


def ranked_mixture_manifest(d2: DataFrame) -> DataFrame:
    """Rank-weighted temperature mixture over a slim survivor
    manifest (doc_id, source, n, h, rank_u6): per-source weight
    w6 = floor(sqrt(src_tokens) × mean relative rank), then the
    standard half-corpus cutoff arithmetic (_temperature_cutoffs'
    exact double expression with the rank-scaled w6). Shared by the
    batch pipeline and the streaming manifest view. The input feeds
    the totals AND the final selection, so it is pinned here — same
    rationale as pipeline_curation_full's d2 pin. The pin ends with
    the call (pagerank's eager-frontier idiom): the final manifest is
    eagerly localCheckpointed, truncating its lineage off d2, so
    repeated invocations (batch + streaming twins per session;
    ladder/probe loops) don't accumulate executor storage."""
    tot = d2.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("src_tokens"),
        F.sum("rank_u6").cast("bigint").alias("rank_mass_u6"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    w = tot.select(
        "source",
        "src_tokens",
        F.floor(
            F.sqrt(F.col("src_tokens").cast("double"))
            * (
                F.col("rank_mass_u6").cast("double")
                / F.col("n_docs").cast("double")
            )
        )
        .cast("bigint")
        .alias("w6"),
    )
    tw = w.agg(
        F.sum("w6").cast("bigint").alias("sum_w6"),
        F.sum("src_tokens").cast("bigint").alias("total_tokens"),
    )
    cut = w.crossJoin(F.broadcast(tw)).select(
        "source",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.round(
                1000000.0
                * (
                    (F.col("w6").cast("double") / F.col("sum_w6"))
                    * (F.col("total_tokens").cast("double") * 0.5)
                    / F.col("src_tokens")
                ),
                0,
            ).cast("bigint"),
        ).alias("cutoff"),
    )
    with pinned(d2):
        return (
            d2.join(F.broadcast(cut), "source")
            .where(F.col("h") < F.col("cutoff"))
            .select(
                "doc_id", "source", F.col("n").alias("n_tokens"), "rank_u6"
            )
            .localCheckpoint(eager=True)
        )


# exported for the streaming twin (queries/streaming_queries.py) so
# both engines' twins are held to the SAME oracle, defined once —
# the stream_curation_full/_CURATION_FULL_ORACLE discipline
CURATION_RANKED_ORACLE = _curation_ranked_oracle()
