"""Round-8 second-continuation operators: LPA communities and friends —
differential tests against independent pure-Python recomputations."""

from __future__ import annotations

from collections import Counter


def _python_lpa(edges, rounds):
    """Reference synchronous LPA: neighbors + self vote; ties -> min."""
    nodes = sorted({n for e in edges for n in e})
    nbrs = {n: [] for n in nodes}
    for u, v in edges:
        nbrs[u].append(v)
        nbrs[v].append(u)
    label = {n: n for n in nodes}
    for _ in range(rounds):
        new = {}
        for n in nodes:
            votes = Counter(label[m] for m in nbrs[n])
            votes[label[n]] += 1
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        label = new
    return label


def test_lpa_matches_python_on_bridged_cliques(spark, monkeypatch):
    """Two K4 cliques joined by one bridge edge: frequency voting must
    keep them as two communities (the case where LPA differs from
    connected components, which would merge them); the Spark trajectory
    replays the Python reference exactly, round for round."""
    from mysql_streamer_spark.queries import analytics as A

    k4a = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    k4b = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    bridge = [(4, 10)]
    edges = k4a + k4b + bridge
    edf = spark.createDataFrame(
        edges + [(v, u) for u, v in edges], "src long, dst long"
    )
    monkeypatch.setattr(
        A, "_copurchase_edges", lambda spark, sf_dir, directed: edf
    )
    got = {
        r.part: (r.community, r.n_members)
        for r in A.q_analytics_community_lpa(spark, "ignored").collect()
    }
    want = _python_lpa(edges, A.LPA_ROUNDS)
    sizes = Counter(want.values())
    assert got == {n: (lbl, sizes[lbl]) for n, lbl in want.items()}
    # structural expectation: exactly two communities, split at the bridge
    assert len(sizes) == 2
    assert set(sizes.values()) == {4}


def test_lpa_tie_breaks_to_min_label_deterministically(spark, monkeypatch):
    """On a 4-cycle every vote ties; the min-label rule must resolve every
    round identically in both engines (this is the determinism the fixed
    unroll + argmax-struct depends on)."""
    from mysql_streamer_spark.queries import analytics as A

    edges = [(1, 2), (2, 3), (3, 4), (1, 4)]
    edf = spark.createDataFrame(
        edges + [(v, u) for u, v in edges], "src long, dst long"
    )
    monkeypatch.setattr(
        A, "_copurchase_edges", lambda spark, sf_dir, directed: edf
    )
    got = {
        r.part: r.community
        for r in A.q_analytics_community_lpa(spark, "ignored").collect()
    }
    assert got == _python_lpa(edges, A.LPA_ROUNDS)


def test_pack_boundary_audit_counts_cross_doc_pairs_exactly(spark, monkeypatch):
    """Brute-force cross-document ordered-pair counting on a synthetic
    single-lane corpus must match the algebraic sum(t_i c_i) - c_min T
    form, including a single-doc sequence (zero contamination — the
    'acceptable' branch) and a multi-doc one ('needs_doc_mask')."""
    from mysql_streamer_spark.queries import pipeline as P

    # one source; doc_ids multiples of PACK_BUCKETS keep ONE lane (bucket 0)
    sizes = [200, 200, 200, 600, 100, 100, 100, 100, 100]
    rows = [
        (i * P.PACK_BUCKETS, "w " * (sz - 1) + "w", "src0")
        for i, sz in enumerate(sizes)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    monkeypatch.setattr(P, "load_table", lambda spark, sf_dir, name: df)
    got = {
        r.seq_id: r
        for r in P.q_pipeline_pack_boundary_audit(spark, "ignored").collect()
    }

    # python replay of the packer: exclusive prefix -> seq assignment
    c, packs = 0, {}
    for i, sz in enumerate(sizes):
        packs.setdefault(c // P.PACK_BUDGET_TOKENS, []).append(sz)
        c += sz
    assert set(got) == set(packs)
    for seq_id, ts in packs.items():
        r = got[seq_id]
        T = sum(ts)
        brute = sum(
            ts[j] * sum(ts[:j]) for j in range(len(ts))
        )  # later-doc tokens x earlier-doc tokens
        assert r.n_docs == len(ts)
        assert r.seq_tokens == T
        assert r.n_boundaries == len(ts) - 1
        assert r.contaminated_pairs == brute
        assert r.total_pairs == T * (T - 1) // 2
        assert r.contamination_frac == brute / (T * (T - 1) // 2)
        assert r.verdict == (
            "needs_doc_mask"
            if r.contamination_frac > P.PACK_CONTAM_HI
            else "acceptable"
        )
    verdicts = {r.verdict for r in got.values()}
    assert verdicts == {"acceptable", "needs_doc_mask"}


def test_video_neardup_matches_python_frame_jaccard(spark, monkeypatch):
    """Identical videos pair at jaccard 1.0; a trimmed re-upload pairs at
    its true frame-set overlap; an unrelated video pairs with nothing;
    and the result matches a pure-Python frame-hash Jaccard replay."""
    import hashlib

    from mysql_streamer_spark.multimodal import FRAME_BYTES, FRAME_STRIDE
    from mysql_streamer_spark.queries import multimodal as M

    base = "".join(chr(97 + (i * 7) % 26) for i in range(512))
    trimmed = base[: FRAME_STRIDE * 5]  # keeps the first 5 frames
    other = "".join(chr(97 + (i * 11 + 3) % 26) for i in range(512))
    # doc_id % 3 == 2 marks a doc as video
    docs = [(2, base), (5, base), (8, trimmed), (11, other)]
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(M, "load_table", lambda spark, sf_dir, name: df)
    # dim hint reads parquet footers; pin it for the synthetic frame
    from mysql_streamer_spark.queries import dedup as D

    monkeypatch.setattr(D, "_docs_dim_hint", lambda sf_dir: "broadcast")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in M.q_multimodal_video_neardup(spark, "ignored").collect()
    }

    def frames(t):
        return {
            hashlib.md5(t[s : s + FRAME_BYTES].encode()).hexdigest()
            for s in range(0, len(t), FRAME_STRIDE)
        }

    fs = {i: frames(t) for i, t in docs}
    want = {}
    ids = sorted(fs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            inter = len(fs[a] & fs[b])
            if inter == 0:
                continue
            jac = inter / len(fs[a] | fs[b])
            if jac >= M.VIDEO_JACCARD_T:
                want[(a, b)] = jac
    assert got == want
    assert got[(2, 5)] == 1.0  # exact re-upload
    assert all(11 not in pair for pair in got)  # unrelated video


def test_burstiness_matches_python_counts(spark, monkeypatch):
    """tf/df/sum_c2 recompute exactly from a synthetic corpus where one
    term is bursty (all mass in few docs) and one is uniform; the Fisher
    index separates them and equals the exact var/mean over all docs."""
    from mysql_streamer_spark.queries import textops as T

    n_docs = 8
    rows = []
    for i in range(n_docs):
        toks = ["the"]  # uniform glue word, once per doc
        if i < 2:
            toks += ["spark"] * 4  # bursty content word
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(T, "load_table", lambda spark, sf_dir, name: df)
    monkeypatch.setattr(T, "BURST_MIN_DF", 2)
    got = {r.term: r for r in T.q_text_burstiness(spark, "ignored").collect()}

    assert got["the"].tf == n_docs and got["the"].df == n_docs
    assert got["the"].sum_c2 == n_docs
    # exact Fisher: var/mean over all docs, zeros included
    for term in ("the", "spark"):
        r = got[term]
        counts = [0] * n_docs
        for i, (_, text) in enumerate(rows):
            counts[i] = text.split().count(term)
        mean = sum(counts) / n_docs
        var = sum(c * c for c in counts) / n_docs - mean * mean
        assert abs(r.fisher_index - var / mean) < 1e-12
        assert r.burstiness == r.tf / r.df
    assert got["the"].band == "regular"   # Poisson-like -> ~ (1 - tf/N) < 1
    assert got["spark"].band == "bursty"  # concentrated -> >> 1


def test_degree_distribution_buckets_partition_nodes(spark, monkeypatch):
    """Buckets cover every node exactly once (sum n_nodes = node count,
    CDF ends at 1.0), degree mass sums to 2|E|, and min/max stay inside
    the bucket's [2^(b-1), 2^b) range."""
    from mysql_streamer_spark.queries import analytics as A

    # star (hub degree 6) + a triangle: degrees 6,1,1,1,1,1,1 and 2,2,2
    star = [(100, i) for i in range(1, 7)]
    tri = [(200, 201), (201, 202), (200, 202)]
    edges = spark.createDataFrame(star + tri, "u long, v long")
    monkeypatch.setattr(
        A, "_copurchase_edges", lambda spark, sf_dir, directed: edges
    )
    rows = sorted(
        A.q_analytics_degree_distribution(spark, "ignored").collect(),
        key=lambda r: r.bucket,
    )
    assert sum(r.n_nodes for r in rows) == 10
    assert sum(r.degree_mass for r in rows) == 2 * len(star + tri)
    assert rows[-1].cum_nodes == 10 and rows[-1].node_cdf == 1.0
    for r in rows:
        lo, hi = 1 << (r.bucket - 1), 1 << r.bucket
        assert r.lo_degree == lo
        assert lo <= r.min_degree <= r.max_degree < hi
    # degree-1 leaves (bucket 1), the triangle+hub spread across buckets
    by_bucket = {r.bucket: r for r in rows}
    assert by_bucket[1].n_nodes == 6
    assert by_bucket[2].n_nodes == 3   # degree-2 triangle nodes
    assert by_bucket[3].n_nodes == 1   # degree-6 hub


def test_txn_size_profile_buckets_partition_txns(spark, sf_dir):
    """Buckets cover every reassembled transaction exactly once (txn and
    row totals re-derive from cdc_txn_reassembly), shares sum to 1, and
    max_rows sits inside its bucket's [2^(b-1), 2^b) range."""
    from mysql_streamer_spark.queries.cdc import (
        q_cdc_txn_reassembly,
        q_cdc_txn_size_profile,
    )

    txns = q_cdc_txn_reassembly(spark, sf_dir).select("n_rows").collect()
    rows = q_cdc_txn_size_profile(spark, sf_dir).collect()
    assert sum(r.n_txns for r in rows) == len(txns)
    assert sum(r.total_rows for r in rows) == sum(t.n_rows for t in txns)
    assert abs(sum(r.txn_share for r in rows) - 1.0) < 1e-12
    assert abs(sum(r.row_share for r in rows) - 1.0) < 1e-12
    for r in rows:
        lo, hi = 1 << (r.bucket - 1), 1 << r.bucket
        assert r.lo_rows == lo
        assert lo <= r.max_rows < hi
        assert r.verdict in {"ok", "jumbo_heavy"}


def test_assortativity_matches_python_pearson(spark, monkeypatch):
    """r recomputes exactly from the emitted integer sums; a star is
    maximally disassortative (r = -1) and a clean two-regime graph
    (cliques of different sizes) is assortative."""
    from mysql_streamer_spark.queries import analytics as A

    def run(edges):
        edf = spark.createDataFrame(edges, "u long, v long")
        monkeypatch.setattr(
            A, "_copurchase_edges", lambda spark, sf_dir, directed: edf
        )
        return A.q_analytics_assortativity(spark, "ignored").collect()[0]

    star = [(100, i) for i in range(1, 6)]
    r = run(star)
    # exact-sum recomputation
    from collections import Counter

    deg = Counter()
    for u, v in star:
        deg[u] += 1
        deg[v] += 1
    m = len(star)
    sjk = sum(deg[u] * deg[v] for u, v in star)
    ssum = sum(deg[u] + deg[v] for u, v in star)
    ssq = sum(deg[u] ** 2 + deg[v] ** 2 for u, v in star)
    assert (r.m_edges, r.s_jk, r.s_sum, r.s_sq) == (m, sjk, ssum, ssq)
    want = (4.0 * m * sjk - ssum * ssum) / (2.0 * m * ssq - ssum * ssum)
    assert r.assortativity == want
    assert r.assortativity == -1.0 and r.band == "disassortative"

    # K3 + K5, disjoint: endpoints always share a degree -> r = +1
    k3 = [(1, 2), (2, 3), (1, 3)]
    k5 = [(10 + i, 10 + j) for i in range(5) for j in range(i + 1, 5)]
    r2 = run(k3 + k5)
    assert r2.assortativity == 1.0 and r2.band == "assortative"


def test_audio_segments_are_maximal_islands(spark, sf_dir):
    """Segments recompute exactly from the meter output: every segment is
    a maximal run of consecutive above-threshold windows (no adjacent
    segments touch, spans match n_windows, energy sums match)."""
    from mysql_streamer_spark.multimodal import audio_energy
    from mysql_streamer_spark.queries import multimodal as M
    from mysql_streamer_spark.queries.multimodal import with_media_blob
    from mysql_streamer_spark.tables import load_table, spread

    blobs = with_media_blob(spread(load_table(spark, sf_dir, "documents")))
    meter = {}
    for r in audio_energy(blobs).collect():
        meter.setdefault(r.doc_id, {})[r.window_idx] = r.energy
    segs = M.q_multimodal_audio_segments(spark, sf_dir).collect()
    assert segs
    per_doc = {}
    for s in segs:
        assert s.seg_end - s.seg_start + 1 == s.n_windows
        win = meter[s.doc_id]
        for i in range(s.seg_start, s.seg_end + 1):
            assert win[i] > M.VAD_ENERGY_T  # every window in-run is active
        # maximality: the windows just outside the run are inactive/absent
        for edge in (s.seg_start - 1, s.seg_end + 1):
            assert win.get(edge, 0) <= M.VAD_ENERGY_T
        assert s.seg_energy == sum(
            win[i] for i in range(s.seg_start, s.seg_end + 1)
        )
        per_doc.setdefault(s.doc_id, []).append((s.seg_start, s.seg_end))
    # python islands replay: segment count per doc matches
    for doc_id, win in meter.items():
        runs, prev = 0, -10
        for i in sorted(w for w, e in win.items() if e > M.VAD_ENERGY_T):
            if i != prev + 1:
                runs += 1
            prev = i
        assert runs == len(per_doc.get(doc_id, []))


def test_split_leakage_flags_cross_split_pairs(spark, sf_dir):
    """Split assignments recompute from the documented md5 rule; crossing
    flags are exactly split_a != split_b; and the pair set equals the
    dedup_jaccard_ngram tier (leakage audits the SAME near-dups)."""
    import hashlib

    from mysql_streamer_spark.queries.dedup import q_dedup_jaccard_ngram
    from mysql_streamer_spark.queries.pipeline import (
        VAL_CELLS,
        q_pipeline_split_leakage,
    )

    def split_of(doc_id):
        cell = int(hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:4], 16) % 100
        return "val" if cell < VAL_CELLS else "train"

    rows = q_pipeline_split_leakage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.split_a == split_of(r.doc_a)
        assert r.split_b == split_of(r.doc_b)
        assert r.crosses_split == (r.split_a != r.split_b)
    pair_set = {(r.doc_a, r.doc_b) for r in rows}
    want = {
        (r.doc_a, r.doc_b)
        for r in q_dedup_jaccard_ngram(spark, sf_dir).collect()
    }
    assert pair_set == want


def test_shingle_df_profile_is_a_mass_cdf(spark, sf_dir):
    """Bucket masses partition the postings (CDF ends at 1.0), the
    under-cap mass never exceeds the bucket mass and matches it exactly
    for buckets entirely below the cap, and max_df stays in-bucket."""
    from mysql_streamer_spark.queries.dedup import (
        NGRAM_DF_CAP,
        q_dedup_shingle_df_profile,
    )

    rows = sorted(
        q_dedup_shingle_df_profile(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert rows
    assert abs(sum(r.mass_share for r in rows) - 1.0) < 1e-12
    assert abs(rows[-1].cum_mass_share - 1.0) < 1e-12
    cum = 0.0
    total = sum(r.postings_mass for r in rows)
    for r in rows:
        lo, hi = 1 << (r.bucket - 1), 1 << r.bucket
        assert r.lo_df == lo
        assert lo <= r.max_df < hi
        assert 0 <= r.mass_under_cap <= r.postings_mass
        if hi - 1 <= NGRAM_DF_CAP:
            assert r.mass_under_cap == r.postings_mass
        if lo > NGRAM_DF_CAP:
            assert r.mass_under_cap == 0
        cum += r.postings_mass / total
        assert abs(r.cum_mass_share - cum) < 1e-9


def test_source_divergence_exact_tv(spark, monkeypatch):
    """TV distance recomputes exactly (including unshared-token mass via
    the closed form) against a brute-force Python distribution compare;
    identical sources read 0, disjoint-vocabulary sources read 1, and
    the three bands are live."""
    from collections import Counter

    from mysql_streamer_spark.queries import textops as T

    srcs = {
        "s_a": "x x y z",          # baseline
        "s_b": "x x y z",          # identical -> tv 0 ('similar')
        "s_c": "x x y q",          # overlapping -> mid-range (tv 0.25)
        "s_d": "p p r r",          # disjoint vocab -> tv 1 ('divergent')
    }
    rows = [
        (i, text, src) for i, (src, text) in enumerate(sorted(srcs.items()))
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    monkeypatch.setattr(T, "load_table", lambda spark, sf_dir, name: df)
    got = {
        (r.source_a, r.source_b): r
        for r in T.q_text_source_divergence(spark, "ignored").collect()
    }
    assert len(got) == 6  # all 4C2 pairs (every pair shares or not)

    def tv(a, b):
        ca, cb = Counter(srcs[a].split()), Counter(srcs[b].split())
        ta, tb = sum(ca.values()), sum(cb.values())
        toks = set(ca) | set(cb)
        return sum(abs(ca[t] / ta - cb[t] / tb) for t in toks) / 2

    for (a, b), r in got.items():
        want = tv(a, b)
        assert abs(r.tv_distance - want) < 1e-12, (a, b)
        # exact rational identity: tv_scaled / (2 t1 t2)
        assert r.tv_scaled == round(want * 2 * r.t1 * r.t2)
    assert got[("s_a", "s_b")].tv_distance == 0.0
    assert got[("s_a", "s_b")].band == "similar"
    assert got[("s_a", "s_d")].tv_distance == 1.0
    assert got[("s_a", "s_d")].band == "divergent"
    assert got[("s_a", "s_c")].band == "mid"


def test_phash_clusters_partition_the_pair_graph(spark, sf_dir):
    """Every doc in a pair appears in exactly one cluster; the keeper is
    the cluster minimum; cluster sizes count members exactly; and the
    clusters reproduce a Python union-find over the pair list."""
    from mysql_streamer_spark.queries.multimodal import (
        q_multimodal_phash_clusters,
        q_multimodal_phash_neardup,
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in q_multimodal_phash_neardup(spark, sf_dir).collect()
    ]
    rows = q_multimodal_phash_clusters(spark, sf_dir).collect()

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in parent:
        want.setdefault(find(n), set()).add(n)

    got = {}
    for r in rows:
        got.setdefault(r.keeper, set()).add(r.doc_id)
        assert r.is_keeper == (r.doc_id == r.keeper)
    assert got == want
    for r in rows:
        assert r.cluster_size == len(got[r.keeper])
        assert r.keeper == min(got[r.keeper])


def test_assortativity_degree_regular_graph_matches_oracle(spark, tmp_path):
    """Three disjoint two-item baskets make a degree-regular graph, so the
    closed form's denominator is exactly zero: Spark must return the
    oracle's row (NULL r, band neutral) rather than raise."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_streamer_spark.queries import analytics as A

    li = tmp_path / "lineitem.parquet"
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 1, 2, 2, 3, 3], pa.int64()),
                "l_partkey": pa.array([10, 11, 12, 13, 14, 15], pa.int64()),
            }
        ),
        li,
    )
    got = [
        tuple(r) for r in A.q_analytics_assortativity(spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
    want = con.execute(A._ASSORTATIVITY_ORACLE).fetchall()
    A.release_copurchase_edges()
    assert got == want == [(3, 3, 6, 6, None, "neutral")]
