"""Link-graph analytics for crawl curation.

A web-scale pretraining corpus carries a host-level link graph, and the
standard curation signal over it is PageRank (the CommonCrawl/CCNet
lineage uses harmonic centrality / PageRank percentiles to tier hosts
by "authority" before sampling).  The reference pipeline has no graph
step — this is extension surface, same family as the connected
components in :mod:`operators.dedup` but with weighted mass propagation
instead of min-label convergence.

Scale shape (100 TB / 10^8-host graph): the edge list is the big frame
and is shuffled ONCE (repartitioned by ``src`` and reused across every
iteration); per-iteration cost is one shuffle-join of the rank frame
(one row per host — orders of magnitude smaller than the edge list)
against the pre-partitioned edges plus one aggregate on ``dst``.  The
dangling-mass correction is a single-row aggregate cross-joined back in
— it stays in the plan (broadcast of one row), never a driver collect.
Fixed iteration count, so lineage depth is bounded and no convergence
round-trips are needed.  Every loop here runs inside
:class:`operators.fixpoint.Fixpoint`, whose docstring states the
checkpoint/lineage contract that ``checkpoint_dir`` selects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sap_data_pipeline_spark.functions.sizing import adaptive_partitions, right_size
from sap_data_pipeline_spark.operators.fixpoint import Fixpoint


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 3,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns one row per node ``(node, pr)`` where ``node`` ranges over
    every distinct endpoint (source or destination) of ``edges``.
    Duplicate edges are collapsed first — rank flows along DISTINCT
    (src, dst) pairs, the usual convention for host graphs where edge
    multiplicity reflects crawl redundancy, not endorsement strength.

    Semantics per iteration (the classic power-iteration step)::

        pr'(v) = (1-d)/N + d * ( sum_{u->v} pr(u)/outdeg(u)
                                 + dangling_mass/N )

    where ``dangling_mass`` is the summed rank of nodes with no
    out-edges — their mass is redistributed uniformly, keeping the
    ranks a probability distribution (sums to 1) at every step.

    ``iterations`` is deliberately fixed (not convergence-driven): a
    curation pipeline wants a deterministic, budget-bounded pass, and
    rank *ordering* stabilises long before the values do.

    ``checkpoint_every`` (rounds between lineage cuts; 0 = never): each
    round consumes its predecessor twice (dangling mass + contribs), so
    an uncheckpointed plan re-derives prior rounds 2^k-fold — fine ONLY
    for the small fixed budgets this operator is meant for (k ≤ ~4 over
    a rank frame that is orders of magnitude smaller than the edges),
    where trading a few redundant tiny-frame stages for ``iterations``
    fewer eager materialization barriers is a win for one-shot
    consumers.  Long runs and cluster jobs keep the default.
    ``checkpoint_dir``: see :mod:`operators.fixpoint`.
    """
    with Fixpoint(edges.sparkSession, checkpoint_dir) as fx:
        # Measure the (deduplicated) edge list once, then run every round
        # at a data-derived task width: per-round work is light per row,
        # so task count drives cost (functions.sizing docstring).
        e0 = fx.ckpt(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct(),
            lazy=True,  # the count below is the materializing action
        )
        eparts = adaptive_partitions(e0.count(), e0.schema)
        with fx.pinned(eparts):
            # the ONE shuffle of the big frame; reused per round
            e = fx.persist(e0.repartition(eparts, "src"))
            nodes = fx.persist(
                e.select(F.col("src").alias("node"))
                .unionAll(e.select(F.col("dst").alias("node")))
                .distinct()
            )
            outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            # one driver scalar up front (node count) — same budget class
            # as connected_components' per-round convergence scalar
            n = nodes.count()
            if n == 0:  # empty link batch: zero rows, stable schema, no 1/0
                return nodes.select("node", F.lit(0.0).alias("pr"))
            # out-degree is STATIC — join it to the node set once and
            # carry ``deg`` inside the rank frame, instead of re-joining
            # outdeg every iteration (saves one node-sized shuffle join
            # per round)
            base = fx.persist(
                nodes.join(outdeg, nodes["node"] == outdeg["src"], "left")
                .select("node", "deg")
                .repartition(eparts, "node")
            )
            ranks = base.select("node", "deg", F.lit(1.0 / n).alias("pr"))
            # Each round is ONE parsed spark.sql statement over temp
            # views of the fixed frames (edges, base) and the previous
            # rank frame — the Column-chain round paid ~0.2 s of
            # py4j/analysis chatter per invocation on top of the
            # per-round jobs (guide §4; r14).  Identical plan: dangling
            # mass stays a broadcast one-row aggregate (hinted), never a
            # driver collect.
            ev, bv, rv = fx.view("pr_e"), fx.view("pr_b"), fx.view("pr_r")
            lit_reset = repr((1.0 - damping) / n) + "D"
            lit_damp = repr(float(damping)) + "D"
            lit_n = repr(float(n)) + "D"
            round_sql = (
                f"SELECT /*+ BROADCAST(dg) */ b.node, b.deg,"
                f" {lit_reset} + {lit_damp} * (coalesce(c.in_mass, 0.0D)"
                f" + dg._dm / {lit_n}) AS pr"
                f" FROM {bv} b LEFT JOIN ("
                f"SELECT e.dst AS node, sum(w) AS in_mass FROM ("
                f"SELECT node, pr / deg AS w FROM {rv} WHERE deg IS NOT NULL) r"
                f" JOIN {ev} e ON r.node = e.src GROUP BY e.dst"
                f") c ON b.node = c.node CROSS JOIN ("
                f"SELECT coalesce(sum(pr), 0.0D) AS _dm FROM {rv}"
                f" WHERE deg IS NULL) dg"
            )
            e.createOrReplaceTempView(ev)
            base.createOrReplaceTempView(bv)
            for it in range(iterations):
                ranks.createOrReplaceTempView(rv)
                ranks = fx.spark.sql(round_sql)
                if checkpoint_every and (it + 1) % checkpoint_every == 0:
                    # eager deliberately: each round's frame is read by
                    # TWO consumers (the next round's dangling-mass
                    # broadcast and the contribs join) — a lazy checkpoint
                    # would let those concurrent stages race to compute it
                    # twice (r14 A/B: the all-lazy variant measured
                    # neutral-to-slower, and the duplicate compute is
                    # corpus-sized at cluster scale)
                    ranks = fx.ckpt(ranks)
            # the checkpointed result never reads the persisted internals
            # (test_graph.test_returned_frame_survives_internal_unpersist)
            return ranks.select("node", "pr")


def tree_root_depth(
    edges: DataFrame,
    *,
    child: str = "child",
    parent: str = "parent",
    max_iter: int = 40,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Root and depth of every node in a forest — the Spark answer to
    the RECURSIVE CTE a SQL Server user would write for org charts /
    BOM explosions / category trees (Spark SQL has no recursive CTE;
    an iterative driver loop over a self-join is the standard
    re-expression, and pointer DOUBLING makes it O(log depth) rounds
    instead of one round per level).

    Input: (child, parent) edges, one row per non-root node; roots are
    nodes that appear as a parent but never as a child (or parent ==
    child self-loops, which are treated as root declarations).
    Returns (node, root, depth) for every node incl. roots (depth 0).

    Each round contracts every pointer across its ancestor's pointer:
    ``(anc, d) ← (anc.anc, d + anc.d)`` — after k rounds every pointer
    spans 2^k levels, so a depth-10^6 chain converges in ~20 rounds.
    The pointer frame is checkpointed every round (``checkpoint_dir``:
    see :mod:`operators.fixpoint`).  Cycles (bad data) would never
    converge — the ``max_iter`` guard raises instead of spinning.
    """
    e = edges.select(
        F.col(child).alias("node"), F.col(parent).alias("anc")
    ).filter(F.col("node") != F.col("anc")).distinct()
    roots = (
        e.select(F.col("anc").alias("node"))
        .distinct()
        .join(e.select("node"), "node", "left_anti")
        .unionAll(
            edges.filter(F.col(child) == F.col(parent))
            .select(F.col(child).alias("node")).distinct()
        )
        .distinct()
    )
    with Fixpoint(edges.sparkSession, checkpoint_dir) as fx:
        # pointer frame: every node's current ancestor + distance spanned
        ptr = fx.ckpt(
            e.select("node", "anc", F.lit(1).cast("long").alias("d"))
            .unionAll(
                roots.select(
                    "node", F.col("node").alias("anc"), F.lit(0).cast("long").alias("d")
                )
            ),
            lazy=True,  # right_size's count is the materializing action
        )
        # every round's frames are pointer-frame-sized and the per-row
        # work is a key compare + add — task-count-bound, so size the
        # rounds from the measured frame (functions.sizing docstring;
        # guide §2.2)
        ptr, pparts = right_size(ptr)
        # Each round is ONE parsed spark.sql self-join over a temp view of
        # the previous (checkpointed) pointer frame — the Column-chain
        # round paid ~0.1-0.2 s of py4j/analysis chatter per invocation
        # on top of the one per-round job (guide §4; r14).  Identical
        # Catalyst plan.
        pv = fx.view("tree_p")
        round_sql = (
            # a pointer is settled when its ancestor's pointer is a self-loop
            f"SELECT p.node, q.anc AS anc, p.d + q.d AS d,"
            f" (p.anc = q.anc) AS _settled"
            f" FROM {pv} p JOIN {pv} q ON p.anc = q.node"
        )
        with fx.pinned(pparts):
            for _ in range(max_iter):
                ptr.createOrReplaceTempView(pv)
                # lazy: the convergence probe below is the single consumer
                # at materialization time — it computes the round's join
                # and the open-pointer count in one job (the r13 shape
                # paid an eager checkpoint count plus a limit(1) probe per
                # round).  The probe is a FULL count, not limit(1): a
                # limit over a lazy checkpoint would leave unscanned
                # partitions to a backfill job — same zero/non-zero
                # decision either way.
                stepped = fx.ckpt(fx.spark.sql(round_sql), lazy=True)
                n_open = stepped.filter(~F.col("_settled")).count()
                ptr = stepped.select("node", "anc", "d")
                if n_open == 0:
                    return ptr.select(
                        "node", F.col("anc").alias("root"), F.col("d").alias("depth")
                    )
    raise RuntimeError(
        f"tree_root_depth did not converge in {max_iter} rounds — "
        "the edge set likely contains a cycle"
    )


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over an undirected graph — the curation companion to
    :func:`pagerank`: where connected components answer "what is
    reachable", LPA finds DENSE regions (mirror farms, spam link rings,
    template families) inside one giant connected web graph, where CC
    would collapse everything into a single component.

    Deterministic formulation (the classic algorithm breaks ties
    randomly; a curation pipeline must not): labels start as the node
    id; each synchronous round every node adopts the most frequent
    label among its neighbors AND itself (the self-vote damps the
    period-2 oscillation synchronous LPA exhibits on bipartite-ish
    subgraphs — e.g. a bare two-node edge would otherwise swap labels
    forever), ties broken toward the SMALLEST label.  Fixed
    ``iterations`` like :func:`pagerank` — budget-bounded, replayable,
    and expressible as an unrolled SQL CTE chain for cross-engine
    verification.

    Scale shape: the (symmetrized, DISTINCT-ed) edge list shuffles to a
    ``src`` layout ONCE and persists; each round joins the one-row-per-
    node label frame against that fixed layout, aggregates neighbor
    label counts ((dst, label) grain — bounded by edge count), and
    picks the winner per node.  Numeric node ids use a single
    ``max(struct(cnt, -label))`` — no window sort; non-numeric ids
    (string hostnames, the advertised curation use) cannot ride the
    negation trick (unary minus on a string casts to NULL and would
    silently freeze every node at its own label), so they take a
    ``row_number`` window ordered (cnt desc, label asc) — same winner,
    type-agnostic, and the rank<=1 filter collapses to WindowGroupLimit
    (top-1 per node below the sort).  The label frame is checkpointed
    every round (``checkpoint_dir``: see :mod:`operators.fixpoint`).
    """
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(
        edges.schema[src].dataType, NumericType
    ) and isinstance(edges.schema[dst].dataType, NumericType)

    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    with Fixpoint(edges.sparkSession, checkpoint_dir) as fx:
        # measure the symmetrized edge list once, then run every round at
        # a data-derived task width (functions.sizing docstring; guide §2.2)
        e0 = fx.ckpt(
            fwd.unionAll(rev)
            .filter(F.col("src") != F.col("dst"))  # self-loops carry no info
            .distinct(),
            lazy=True,  # the count below is the materializing action
        )
        eparts = adaptive_partitions(e0.count(), e0.schema)
        with fx.pinned(eparts):
            e = fx.persist(e0.repartition(eparts, "src"))
            nodes = fx.persist(
                e.select(F.col("src").alias("node"))
                .unionAll(e.select(F.col("dst").alias("node")))
                .distinct()
            )
            labels = nodes.select("node", F.col("node").alias("lbl"))
            # Each round is ONE parsed spark.sql statement over temp views
            # of the edge layout and the previous (checkpointed) label
            # frame — the Column-chain round cost ~0.2 s of py4j/analysis
            # chatter per invocation on top of the per-round jobs (guide
            # §4; r14 A/B).  The SQL parses to the identical Catalyst
            # plan per round.
            ev, lv = fx.view("lpa_e"), fx.view("lpa_l")
            # votes = neighbor labels along the fixed edge layout + the
            # self-vote; winner per node: max count, then min label.  The
            # numeric path rides one lexicographic struct max (negation
            # inverts the label order inside the struct); non-numeric ids
            # take the type-agnostic row_number window (rank<=1 collapses
            # to WindowGroupLimit).  The self-vote puts every labelled
            # node into the counts, so the winner frame covers exactly
            # the label node set — it IS the next label frame (no
            # join-back needed).
            counts_sql = (
                "SELECT node, lbl, count(1) AS cnt FROM ("
                f"SELECT e.dst AS node, l.lbl FROM {lv} l"
                f" JOIN {ev} e ON l.node = e.src"
                f" UNION ALL SELECT node, lbl FROM {lv}"
                ") GROUP BY node, lbl"
            )
            if numeric_ids:
                round_sql = (
                    "SELECT node, -(w.neg) AS lbl FROM ("
                    "SELECT node, max(named_struct('cnt', cnt, 'neg', -lbl)) AS w"
                    f" FROM ({counts_sql}) GROUP BY node)"
                )
            else:
                round_sql = (
                    "SELECT node, lbl FROM ("
                    "SELECT node, lbl, row_number() OVER ("
                    "PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS _rn"
                    f" FROM ({counts_sql})) WHERE _rn = 1"
                )
            e.createOrReplaceTempView(ev)
            for _ in range(iterations):
                labels.createOrReplaceTempView(lv)
                labels = fx.ckpt(fx.spark.sql(round_sql))
            return labels.withColumnRenamed("lbl", "community")


def _orient(und: DataFrame, deg: DataFrame, orient: str) -> DataFrame:
    """One oriented (a, b) row per undirected edge.  ``id``: low→high
    id; ``degree``: toward the higher-(degree, id) endpoint, capping
    every out-degree at O(√|E|) — the wedge-bound knob
    :func:`triangle_counts` documents (guard: test_scale_guards_big)."""
    if orient == "id":
        return und.filter(F.col("a") < F.col("b"))
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    return (
        und.join(da, "a").join(db, "b")
        .filter(
            (F.col("_da") < F.col("_db"))
            | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
    )


def triangle_counts(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected graph — the density signals behind link-spam curation
    (organic neighborhoods close triangles; spray-pattern link farms
    don't) and the per-node refinement of the cluster-quality audit's
    clique-vs-chain density.

    Algorithm: the standard two-join enumeration on an ORIENTED edge
    list (one direction kept per undirected edge after
    symmetrize+distinct, self-loops dropped) — each triangle is found
    exactly once as (a,b)+(b,c)+(a,c) along the orientation.  The
    wedge join (a,b)x(b,c) is the quadratic risk: its size is
    Σ deg_out(b)².  Orientation is the knob:

    * ``orient="id"`` — low-id→high-id.  Fully SQL-replayable (the
      catalog oracle states this form) and fine when ids are
      uncorrelated with degree.
    * ``orient="degree"`` — edges point to the HIGHER-(degree, id)
      endpoint: every out-degree is capped at O(√|E|) (a node of
      degree d > √2|E| has < d neighbors of ≥ its degree), which
      bounds the wedge join on power-law graphs where a single hub
      would otherwise contribute deg² wedges — the production default
      for real crawl graphs.  Orientation changes COST, never output
      (test-pinned).

    Two hash joins + one count aggregate either way; AQE skew-split
    covers hot wedge keys.

    Returns (node, degree, triangles, clustering) for every node,
    clustering = 2·triangles / (degree·(degree-1)), 0.0 when degree<2.
    """
    if orient not in ("id", "degree"):
        raise ValueError(f"orient must be 'id' or 'degree', got {orient!r}")
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rev = edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    # Materialize the symmetrize+distinct ONCE (same policy as
    # pagerank/LPA: the edge list shuffles once, every consumer reads
    # the checkpoint).  Without this, und/ori replicate into every arm
    # of the wedge, closure, and per-corner unions — 40 source scans in
    # the executed plan (r9 audit, zero ReusedExchange) — which at
    # corpus scale means re-reading the edge source 40×.
    und = (
        fwd.unionAll(rev)
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)  # right_size's count materializes
    )
    # both materialized frames feed light per-row join work — read them
    # back at a data-derived width (functions.sizing; guide §2.2)
    und, _ = right_size(und)

    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    # the oriented list feeds three join arms — checkpoint it too so
    # the orientation (and its deg join under orient="degree") computes
    # once, edge-sized either way
    ori, _ = right_size(_orient(und, deg, orient).localCheckpoint(eager=False))

    wedge = ori.alias("e1").join(
        ori.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
        F.col("e2.b").alias("c"),
    )
    tri = wedge.alias("w").join(
        ori.alias("e3"),
        (F.col("w.a") == F.col("e3.a")) & (F.col("w.c") == F.col("e3.b")),
    ).select("w.a", "w.b", "w.c")

    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("clustering"),
    )
