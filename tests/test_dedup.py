"""Dedup correctness properties — exact dup capture and LSH recall vs. the
exact baseline (SURVEY.md §7 risk register: LSH recall is property-tested, not
hash-matched)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_retention_pipeline_spark.operators.text import (
    minhash_candidate_pairs,
    minhash_signature_frame,
    portable_simhash60,
    simhash_candidate_frame,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _classic_lev(a: str, b: str) -> int:
    """Unit-cost Levenshtein distance by the classic O(m·n) DP."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_identical_docs_share_signature(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(spark, [(1, text), (2, text), (3, "completely different words here now")])
    sigs = {r["doc_id"]: tuple(r["signature"]) for r in minhash_signature_frame(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_identical_docs_become_candidates(spark):
    text = "spark engine scan filter join aggregate window shuffle partition broadcast"
    docs = _docs(
        spark,
        [(1, text), (2, text), (3, "unrelated text with other tokens entirely here")],
    )
    pairs = {(r["d1"], r["d2"]) for r in minhash_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_near_duplicates_are_candidates(spark):
    # One token changed out of ~30 -> shingle overlap is high -> some band
    # should collide.
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon "
            "phi chi psi omega one two three four five six")
    variant = base.replace("sigma", "changed")
    docs = _docs(spark, [(1, base), (2, variant)])
    pairs = {(r["d1"], r["d2"]) for r in minhash_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs


def test_degenerate_corpus_candidates_stay_linear(spark):
    """Hot-bucket bound (round-1 verdict #4): a corpus of near-identical docs
    collapses every band into one bucket — unbounded LSH would emit
    n*(n-1)/2 pairs. With star degradation the candidate count stays O(n·cap)
    and every doc remains connected to the cluster hub."""
    n = 300  # 300 identical docs -> 44,850 pairs unbounded
    text = "spark engine scan filter join aggregate window shuffle partition broadcast"
    docs = _docs(spark, [(i, text) for i in range(1, n + 1)])
    pairs = minhash_candidate_pairs(docs).collect()
    from pyspark_retention_pipeline_spark.operators.buckets import MAX_BUCKET_MEMBERS

    assert len(pairs) < n * MAX_BUCKET_MEMBERS, (
        f"{len(pairs)} candidates for {n} identical docs — hot bucket unbounded"
    )
    # Connectivity: union-find over emitted pairs must yield ONE cluster.
    parent = {i: i for i in range(1, n + 1)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        parent[find(r["d1"])] = find(r["d2"])
    assert len({find(i) for i in range(1, n + 1)}) == 1


def test_bounded_bucket_pairs_small_buckets_exact(spark):
    """Below the cap the bounded join emits exactly the all-pairs set."""
    from pyspark_retention_pipeline_spark.operators.buckets import bounded_bucket_pairs

    members = spark.createDataFrame(
        [(100, i) for i in range(1, 5)] + [(200, 7), (200, 9)], "bucket long, id long"
    )
    got = {
        (r["id1"], r["id2"]) for r in bounded_bucket_pairs(members, ["bucket"], "id").collect()
    }
    expect = {(a, b) for a in range(1, 5) for b in range(1, 5) if a < b} | {(7, 9)}
    assert got == expect


def test_exact_dedup_counts(spark, sf_dir):
    from pyspark_retention_pipeline_spark.registry import all_queries

    q = all_queries()
    docs_total = q["doc_fingerprint"](spark, sf_dir).count()
    groups = q["dedup_exact"](spark, sf_dir)
    agg = groups.agg(
        F.sum("n_dupes").alias("total"), F.count("*").alias("uniq")
    ).collect()[0]
    assert agg["total"] == docs_total
    assert agg["uniq"] <= docs_total


def test_winnowing_overlap_property(spark, monkeypatch):
    """Winnowing guarantee: documents sharing a long run of tokens share
    fingerprints; disjoint documents share none."""
    import pyspark_retention_pipeline_spark.operators.text as tx

    base = "one two three four five six seven eight nine ten eleven twelve"
    shifted = "zzz " + base          # same content, shifted by one token
    disjoint = "aa bb cc dd ee ff gg hh ii jj kk ll"
    docs = spark.createDataFrame(
        [(1, base), (2, shifted), (3, disjoint)], "doc_id long, text string"
    )
    monkeypatch.setattr(tx, "load_table", lambda *_, **__: docs)
    # Library form: array output, engine-native xxhash64.
    lib = {
        r["doc_id"]: set(r["fingerprints"])
        for r in tx.winnowing_fingerprint_frame(docs).collect()
    }
    # Registry form: exploded (doc_id, fingerprint) rows, portable hash.
    reg: dict[int, set[int]] = {}
    for r in tx.winnowing_fingerprints(spark, "ignored").collect():
        reg.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for fps in (lib, reg):
        assert fps[1] & fps[2], "shifted copy must share fingerprints"
        assert not (fps[1] & fps[3]), "disjoint docs must not collide"


def _py_simhash60(text: str) -> int:
    """Pure-Python reference for portable_simhash60 (independent of both
    engines): md5-derived 60-bit token hash, 0/1 vote counts, 2*ones > n."""
    import hashlib

    toks = list(dict.fromkeys(text.split(" ")))
    ones = [0] * 60
    for t in toks:
        hx = hashlib.md5(t.encode()).hexdigest()
        h = int(hx[0:15], 16)
        for j in range(60):
            ones[j] += (h >> j) & 1
    n = len(toks)
    return sum((1 << j) for j in range(60) if 2 * ones[j] > n)


def test_portable_simhash_packed_and_wide_paths(spark):
    """The packed-counter fold (2×30-bit lanes per word) must agree with an
    independent pure-Python computation — on a normal doc and on one with
    33k distinct tokens (far past where a narrower packing would carry)."""
    small = "the quick brown fox jumps over the lazy dog"
    big = " ".join(f"tok{i}" for i in range(33000))  # past a 15-bit counter
    docs = _docs(spark, [(1, small), (2, big)])
    got = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", portable_simhash60(F.col("text")).alias("sig")
        ).collect()
    }
    assert got[1] == _py_simhash60(small)
    assert got[2] == _py_simhash60(big)


def test_simhash_hot_bucket_bound_engages(spark):
    """Round-6 verdict item 3: a degenerate corpus (identical docs → every
    band bucket holds all n docs) must degrade to star pairs, not the
    quadratic all-pairs join. Below the cap the output is the exact
    hamming-≤3 pair set."""
    n = 40
    text = "spark engine scan filter join aggregate window shuffle partition"
    docs = _docs(spark, [(i, text) for i in range(1, n + 1)])

    # cap above bucket size -> exact: all n*(n-1)/2 pairs, hamming 0.
    exact = simhash_candidate_frame(docs, cap=64).collect()
    assert len(exact) == n * (n - 1) // 2
    assert all(r["hamming"] == 0 for r in exact)

    # cap below bucket size -> degradation: n-1 star pairs (hub = doc 1)
    # plus the signature-ordered adjacency chain (identical sigs -> chain
    # by id: (2,3)..(n-1,n); (1,2) coincides with a star pair). Everything
    # is hamming 0 and the member count stays O(n), not O(n^2).
    bounded = simhash_candidate_frame(docs, cap=8).collect()
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in bounded}
    star = {(1, k) for k in range(2, n + 1)}
    chain = {(k, k + 1) for k in range(1, n)}
    assert got == star | chain
    assert len(bounded) == len(got)  # distinct folded the overlap
    assert all(r["hamming"] == 0 for r in bounded)


def test_simhash_bound_keeps_near_dup_pairs_exact_below_cap(spark):
    """Mixed corpus under the cap: the bounded path must not change the
    hamming-≤3 semantics (oracle safety at testdata scales)."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    variant = base.replace("sigma", "changed")
    docs = _docs(spark, [(1, base), (2, variant), (3, "totally different words")])
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in simhash_candidate_frame(docs).collect()
    }
    small_cap = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in simhash_candidate_frame(docs, cap=64).collect()
    }
    assert got == small_cap  # any cap above bucket sizes -> identical output
    assert (1, 3) not in got and (2, 3) not in got


def test_connected_components_known_graph(spark):
    from pyspark_retention_pipeline_spark.operators.components import (
        connected_components,
    )

    # Two chains and a singleton pair: {1-2-3-4}, {10-11}, {20-21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "src long, dst long"
    )
    comp = {
        r["vertex"]: r["component"] for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    """Pointer-jumping convergence (round-1 advisor): a 200-edge path graph
    has diameter 200 — one-hop min propagation needs 200 rounds and the old
    max_iter=10 silently returned split clusters. With label compression the
    default budget converges in O(log diameter) rounds."""
    from pyspark_retention_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    comp = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 201


def test_connected_components_raises_on_budget_exhaustion(spark):
    import pytest

    from pyspark_retention_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_dedup_clusters_consistent_with_pairs(spark, sf_dir):
    from pyspark_retention_pipeline_spark.registry import all_queries

    q = all_queries()
    clusters = q["dedup_clusters"](spark, sf_dir)
    rows = clusters.collect()
    if not rows:
        return  # no candidate pairs at this sf — nothing to cluster
    # canonical id must be the min doc_id of its cluster and sizes consistent
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["canonical_id"], []).append(r)
    for canon, members in by_comp.items():
        assert canon == min(m["doc_id"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)


def test_prefix_edit_distance_pairs_nonempty_and_correct(spark, sf_dir):
    """The threshold keeps a non-trivial pair set and the distances match a
    local DP recomputation."""
    from pyspark_retention_pipeline_spark.operators.text import (
        EDIT_MAX,
        EDIT_PREFIX,
        _PAIR_LIMIT,
        prefix_edit_distance_pairs,
    )
    from pyspark_retention_pipeline_spark.tables import load_table

    rows = prefix_edit_distance_pairs(spark, sf_dir).collect()
    assert rows, "no near-match pairs at this threshold"
    pfx = {
        r.doc_id: r.text[:EDIT_PREFIX]
        for r in load_table(spark, sf_dir, "documents")
        .filter(f"doc_id < {_PAIR_LIMIT}")
        .select("doc_id", "text")
        .collect()
    }

    for r in rows[:25]:
        assert r.d1 < r.d2
        assert r.edit_dist == _classic_lev(pfx[r.d1], pfx[r.d2])
        assert r.edit_dist <= EDIT_MAX


def test_simhash_identical_docs_pair_at_hamming_zero(spark):
    text = "spark engine scan filter join aggregate window shuffle partition broadcast"
    docs = _docs(
        spark,
        [(1, text), (2, text), (3, "unrelated corpus tokens that share nothing at all")],
    )
    rows = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in simhash_candidate_frame(docs).collect()
    }
    assert rows.get((1, 2)) == 0
    assert (1, 3) not in rows and (2, 3) not in rows


@pytest.mark.slow
def test_simhash_banding_lossless_vs_bruteforce(spark):
    # The 4-band split must recall EVERY hamming<=3 pair (pigeonhole): compare
    # the banded candidate set against an all-pairs brute force on a corpus
    # with planted near-dups (single-token edits) and unrelated filler.
    # 60 tokens so a single-token edit flips few majority votes (hamming 1
    # under the current portable hash; planted values re-checked against the
    # pure-Python reference whenever the hash changes).
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon "
            + " ".join(f"pad{k}" for k in range(40)))
    rows = [(1, base), (2, base.replace("sigma", "changed")), (3, base + " extra")]
    rows += [(10 + i, f"filler{i} " + " ".join(f"w{i}x{j}" for j in range(20))) for i in range(30)]
    docs = _docs(spark, rows)
    banded = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in simhash_candidate_frame(docs).collect()
    }
    sigs = docs.select("doc_id", portable_simhash60(F.col("text")).alias("sig"))
    a = sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b"))
    brute = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in a.crossJoin(b)
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.expr("bit_count(sig_a ^ sig_b)").cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute
    assert any(h <= 3 for (_, _, h) in banded)  # the planted edits are found


def test_bounded_bucket_pairs_chain_connects_hub_distant_twins(spark):
    """Round-8 review finding, fixed by chain_cols: in an OVERSIZED bucket,
    members identical to each other but far from the hub used to appear
    only in (hub, member) star pairs — a downstream distance filter then
    disconnected them entirely. The signature-ordered adjacency chain must
    pair them directly (distance 0), independent of hub distance."""
    from pyspark_retention_pipeline_spark.operators.buckets import (
        bounded_bucket_pairs,
    )

    rows = [(1, "b", 100)] + [(i, "b", 100) for i in range(2, 9)]
    # ids 20, 21 share sig 999 (far from the hub's 100); same bucket.
    rows += [(20, "b", 999), (21, "b", 999)]
    members = spark.createDataFrame(rows, "id long, bucket string, sig long")
    pairs = {
        (r["id1"], r["id2"], r["sig1"], r["sig2"])
        for r in bounded_bucket_pairs(
            members, ["bucket"], "id", cap=4,
            payload_cols=["sig"], chain_cols=["sig"],
        ).collect()
    }
    # The twins are chained directly with their own payloads on both sides.
    assert (20, 21, 999, 999) in pairs
    # Star pairs still connect every member to the hub (id 1).
    assert {(p[0], p[1]) for p in pairs} >= {(1, k) for k in [20, 21]}
    # Payload sides follow their ids after chain normalization.
    for id1, id2, s1, s2 in pairs:
        assert id1 < id2


def test_minhash_banded_portable_duplicates_share_all_bands(spark, monkeypatch):
    """The portable banded form (oracle-backed registry query): identical
    documents collide in ALL four bands (bands_shared = 4); unrelated
    documents collide in none. Documents need lang/source columns only for
    load_table parity — the query reads doc_id/text."""
    import pyspark_retention_pipeline_spark.operators.text as text_mod
    from pyspark_retention_pipeline_spark.registry import all_queries

    text = "spark engine scan filter join aggregate window shuffle partition broadcast"
    docs = spark.createDataFrame(
        [
            (1, text, "en", "s0"),
            (2, text, "en", "s0"),
            (3, "unrelated tokens entirely different words over here today", "en", "s0"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(text_mod, "load_table", lambda *_, **__: docs)
    rows = {
        (r["doc_id_a"], r["doc_id_b"]): r["bands_shared"]
        for r in all_queries()["minhash_banded_candidates"](spark, "x").collect()
    }
    assert rows.get((1, 2)) == 4
    assert (1, 3) not in rows and (2, 3) not in rows


def test_minhash_calibration_planted_neardup(spark, monkeypatch):
    """A planted near-duplicate pair (one token substituted) must surface
    with high exact Jaccard AND bands_shared >= 1; two disjoint documents
    must not appear at all (no bands shared, Jaccard 0)."""
    import pyspark_retention_pipeline_spark.operators.text as tx

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(("tokX" if i == 20 else f"tok{i}") for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, base), (1, near), (2, other)], "doc_id long, text string"
    )
    monkeypatch.setattr(tx, "load_table", lambda *_, **__: docs)
    rows = {
        (r["d1"], r["d2"]): r
        for r in tx.minhash_calibration(spark, "ignored").collect()
    }
    assert (0, 1) in rows
    pair = rows[(0, 1)]
    # one substituted token kills 3 shingles of ~38: Jaccard ~ 35/41
    assert pair["jaccard"] > 0.7
    assert pair["bands_shared"] >= 1
    assert (0, 2) not in rows and (1, 2) not in rows


def test_part_pagerank_rounds_matches_python_reference(spark, monkeypatch):
    """Planted basket graph vs a dict-based integer power iteration: the
    exact fixed-point arithmetic (per-edge truncating div, damped integer
    update) must reproduce bit-for-bit, iteration by iteration."""
    import pyspark_retention_pipeline_spark.operators.components as comp

    # orders: o1{1,2} o2{1,2} o3{1,3} o4{2,3,4}
    rows = [
        (1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3),
        (4, 2), (4, 3), (4, 4),
        (4, 4),  # duplicate line: collect_set must dedupe it
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(comp, "load_table", lambda *_, **__: li)

    S = comp.PR_SCALE
    edges = {}
    for (a, b), w in {(1, 2): 2, (1, 3): 1, (2, 3): 1, (2, 4): 1, (3, 4): 1}.items():
        edges[(a, b)] = w
        edges[(b, a)] = w
    ow = {}
    for (s, _), w in edges.items():
        ow[s] = ow.get(s, 0) + w
    pr = {p: S for p in ow}
    want = []
    for it in range(1, comp.PR_ITERS + 1):
        inc = {}
        for (s, d), w in edges.items():
            inc[d] = inc.get(d, 0) + (pr[s] * w) // ow[s]
        pr = {p: (15 * S + 85 * inc.get(p, 0)) // 100 for p in ow}
        top = min(pr, key=lambda p: (-pr[p], p))
        want.append((it, len(pr), sum(pr.values()), top, pr[top]))

    got = sorted(
        comp.part_pagerank_rounds(spark, "x").collect(),
        key=lambda r: r.iteration,
    )
    assert [
        (r.iteration, r.n_nodes, r.total_rank, r.top_part, r.top_rank)
        for r in got
    ] == want


def test_part_pagerank_rank_mass_conserved_modulo_truncation(spark, sf_dir):
    """On the real graph: node count is constant across iterations, total
    rank mass never exceeds n·PR_SCALE (truncation only loses mass), and
    the top rank is ≥ the uniform share (the argmax can't be below mean)."""
    from pyspark_retention_pipeline_spark.operators.components import (
        PR_ITERS,
        PR_SCALE,
        part_pagerank_rounds,
    )

    rows = sorted(
        part_pagerank_rounds(spark, sf_dir).collect(),
        key=lambda r: r.iteration,
    )
    assert [r.iteration for r in rows] == list(range(1, PR_ITERS + 1))
    n = rows[0].n_nodes
    assert n > 0
    for r in rows:
        assert r.n_nodes == n
        assert r.total_rank <= n * PR_SCALE
        assert r.total_rank > 0
        assert r.top_rank * n >= r.total_rank  # max >= mean


def test_part_triangle_counts_planted_graph(spark, monkeypatch):
    """Hand-checked graph: edges {12,13,23,34,14} hold triangles {1,2,3}
    and {1,3,4}; an isolated pair (5,6) has zero triangles and zero
    coefficient. Degrees, triangle counts, and 2T/(d(d-1)) all pinned."""
    import pyspark_retention_pipeline_spark.operators.components as comp

    base = [
        (1, 1), (1, 2), (1, 3),  # order 1: parts {1,2,3}
        (2, 3), (2, 4),          # order 2: {3,4}
        (3, 1), (3, 4),          # order 3: {1,4}
        (4, 5), (4, 6),          # isolated pair
    ]
    # every basket twice (distinct order keys) so each edge clears the
    # TRI_MIN_SUPPORT = 2 threshold
    rows = base + [(ok + 10, pk) for ok, pk in base]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(comp, "load_table", lambda *_, **__: li)
    out = {r.part: r for r in comp.part_triangle_counts(spark, "x").collect()}
    assert len(out) == 6
    want = {
        1: (3, 2, 2 * 2 / (3 * 2)),
        2: (2, 1, 1.0),
        3: (3, 2, 2 * 2 / (3 * 2)),
        4: (2, 1, 1.0),
        5: (1, 0, 0.0),
        6: (1, 0, 0.0),
    }
    for p, (deg, tri, cc) in want.items():
        assert (out[p].degree, out[p].n_triangles) == (deg, tri), p
        assert abs(out[p].clustering_coeff - cc) < 1e-12, p


def test_kcore_rounds_matches_python_reference(spark, monkeypatch):
    """Planted graph vs a set-based Python peeler: a 3-clique core with a
    pendant chain — round 1 drops the chain tail, round 2 the rest of the
    chain, and the clique survives every round. Each basket is doubled so
    every edge clears TRI_MIN_SUPPORT."""
    import pyspark_retention_pipeline_spark.operators.components as comp

    base = [
        (1, 1), (1, 2), (1, 3),  # clique {1,2,3}
        (2, 3), (2, 7),          # chain 3-7
        (3, 7), (3, 8),          # chain 7-8
        (4, 8), (4, 9),          # chain 8-9 (9 is the degree-1 tail)
    ]
    rows = base + [(ok + 10, pk) for ok, pk in base]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(comp, "load_table", lambda *_, **__: li)

    edges = {(1, 2), (1, 3), (2, 3), (3, 7), (7, 8), (8, 9)}
    want = []
    for it in range(1, comp.KCORE_ITERS + 1):
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= comp.KCORE_K}
        edges = {(a, b) for a, b in edges if a in keep and b in keep}
        want.append((it, len(keep), len(edges)))

    got = sorted(
        comp.kcore_rounds(spark, "x").collect(), key=lambda r: r.iteration
    )
    assert [(r.iteration, r.n_nodes, r.n_edges) for r in got] == want
    # the clique is a 2-core: the curve must stabilize at 3 nodes/3 edges
    assert got[-1].n_nodes == 3 and got[-1].n_edges == 3


def test_neardup_edit_verify_planted(spark, monkeypatch):
    """Planted contract for the character-level verify rung: an exact dup
    pair scores edit 0 / sim 1.0, a one-word near-miss scores the python
    DP's exact distance with the micro-unit-quantized similarity, unrelated
    docs never pair, and the doc_id % 3 parity slice excludes off-slice
    twins. The one-word edit also demonstrates what Jaccard can't see
    being seen here: token-set measures ignore ordering/characters; the
    edit measure is positive for the near-miss while its band signature
    still collides."""
    import pyspark_retention_pipeline_spark.operators.text as tx

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon "
        + " ".join(f"pad{k}" for k in range(40))
    )
    near = base.replace("sigma", "sigmb")
    rows = [
        (0, base),
        (3, base),           # exact dup, on-slice
        (6, near),           # near-miss, on-slice
        (4, base),           # exact dup but OFF the %3 slice — must not pair
        (9, "filler " + " ".join(f"w{j}" for j in range(60))),
    ]
    docs = _docs(spark, rows)
    monkeypatch.setattr(tx, "load_table", lambda *_, **__: docs)
    got = {
        (r.doc_id_a, r.doc_id_b): (r.edit_dist, r.edit_sim)
        for r in tx.neardup_edit_verify(spark, "x").collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    assert got[(0, 3)] == (0, 1.0)
    d = lev(base, near)
    assert d == 1  # one substituted character
    ml = max(len(base), len(near))
    sim = round((ml - d) * 1_000_000.0 / ml) / 1_000_000.0
    assert got[(0, 6)] == (d, sim) and got[(3, 6)] == (d, sim)
    assert 0.0 < sim < 1.0
    assert not any(9 in p or 4 in p for p in got)


def test_levenshtein_matches_classic_dp(spark):
    """Spark's ``levenshtein``, the one edit distance of the package and the
    oracle's, counts unicode code points: it must equal the classic O(m·n)
    DP over Python strings on the edge cases, non-ASCII and astral-plane
    characters, and a seeded randomized sweep."""
    import random

    pairs = [
        ("", ""),
        ("", "abc"),
        ("abc", ""),
        ("kitten", "sitting"),
        ("flaw", "lawn"),
        ("café", "cafe"),
        ("日本語", "日語"),
        ("𝔘", "U"),
        ("a𝔘b", "ab"),
    ]
    rng = random.Random(151)
    alphabet = "ab cdé日𝔘"
    for _ in range(300):
        la, lb = rng.randint(0, 80), rng.randint(0, 80)
        pairs.append(
            (
                "".join(rng.choice(alphabet) for _ in range(la)),
                "".join(rng.choice(alphabet) for _ in range(lb)),
            )
        )
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i long, a string, b string"
    )
    got = {
        r.i: r.d for r in df.select("i", F.levenshtein("a", "b").alias("d")).collect()
    }
    for i, (a, b) in enumerate(pairs):
        assert got[i] == _classic_lev(a, b), (a, b)


def test_neardup_edit_verify_single_arrow_eval(spark, sf_dir):
    """The DP runs in the JVM, once per pair: the executed plan evaluates
    exactly one ``levenshtein`` (``edit_dist`` is bound to one column and
    ``edit_sim`` derives from it, so Catalyst does not inline the DP twice)
    and crosses no Python worker boundary."""
    import pyspark_retention_pipeline_spark.operators.text as tx
    from pyspark_retention_pipeline_spark.plans import explain_str

    plan = explain_str(tx.neardup_edit_verify(spark, sf_dir))
    assert plan.count("levenshtein(") == 1, plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
