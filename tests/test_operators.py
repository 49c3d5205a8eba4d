"""Operator-level tests: approximate ops vs their exact twins, plus
invariants the DuckDB oracle can't express."""

import pytest
from pyspark.sql import functions as F

from hadoop_logfile_inputformat_spark.operators import (
    dedup,
    relational_ext,
    similarity,
)
from hadoop_logfile_inputformat_spark.plans.registry import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"


def test_minhash_lsh_matches_exact_jaccard(spark):
    """At this threshold LSH candidate generation must not lose pairs
    the exact operator finds (recall == 1 on the test corpus)."""
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(spark, SF).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(spark, SF).collect()
    }
    assert lsh == exact
    assert exact  # corpus must actually produce near-dup pairs


def test_minhash_lsh_portable_family_matches_exact_jaccard(spark):
    """The md5-affine family the registry binds (hash-checkable by
    DuckDB) must preserve the same recall==1 property as the xxhash64
    default — a portability swap must not degrade candidate recall."""
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(spark, SF).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs_portable(spark, SF).collect()
    }
    assert lsh == exact
    assert exact


def test_simhash_pairs_have_low_hamming(spark):
    rows = dedup.simhash_pairs(spark, SF, max_hamming=12).collect()
    assert rows
    assert all(0 <= r.hamming <= 12 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_simhash_pairkey_family_keeps_strong_pairs(spark):
    """Chunk-PAIR candidate keys (the >16k-doc scale geometry, 28
    tables x 2^16 buckets instead of 8 x 256): must be a SUBSET of the
    single-chunk candidates after the exact hamming filter (keys can
    only lose borderline candidates, never admit false pairs) and must
    retain every strong (jaccard >= 0.5) near-dup on the fixture."""
    single_rows = dedup.simhash_pairs(spark, SF, candidate_chunks=1).collect()
    single = {(r.doc_a, r.doc_b) for r in single_rows}
    paired = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_pairs(spark, SF, candidate_chunks=2).collect()
    }
    assert paired <= single
    # pigeonhole THEOREM for pair keys: k <= 6 flips touch <= 6 chunks,
    # so >= 2 of 8 stay untouched — such pairs cannot be lost
    guaranteed = {(r.doc_a, r.doc_b) for r in single_rows if r.hamming <= 6}
    assert guaranteed and guaranteed <= paired
    # strong near-dups: near-full recall (the trade is confined to the
    # loose hamming tail, where a pair can touch 7+ chunks)
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF, threshold=0.5).collect()
    }
    assert truth
    assert len(truth & paired) / len(truth) >= 0.9
    # the adaptive selector stays on the oracle geometry at fixture size
    dflt = {
        (r.doc_a, r.doc_b) for r in dedup.simhash_pairs(spark, SF).collect()
    }
    assert dflt == single


def test_simhash_portable_family_finds_near_dups(spark):
    """60-bit portable SimHash: same structural invariants as the
    64-bit default, and full recall of the strong (jaccard >= 0.5)
    near-dup pairs on the fixture corpus — a portability swap must not
    lose the dups the operator exists to find.  (Exact hamming values
    are family-dependent and deliberately not compared.)"""
    portable = dedup.simhash_pairs_portable(spark, SF).collect()
    assert portable
    assert all(0 <= r.hamming <= 12 and r.doc_a < r.doc_b for r in portable)
    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF, threshold=0.5).collect()
    }
    assert truth, "fixture corpus must contain strong near-dups"
    found = {(r.doc_a, r.doc_b) for r in portable}
    assert truth <= found, f"portable SimHash missed {truth - found}"


def test_exact_dedup_is_total_and_consistent(spark):
    rows = dedup.exact_dedup(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) == n_docs
    assert all((r.is_dup == 0) == (r.doc_id == r.keep_id) for r in rows)


def test_ivf_recall_vs_brute_force(spark):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(spark, SF).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_ivf_topk(spark, SF).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall collapsed: {recall}"


def test_embedding_near_dup_scale_vs_exact(spark):
    """The hyperplane-LSH scale path must be a subset of the exact
    all-pairs twin (precision 1 by construction — candidates are
    verified exactly) with high recall; with generous banding on this
    corpus recall is exactly 1.  Deterministic: fixed plane seed, fixed
    data.  Pattern parity with test_minhash_lsh_matches_exact_jaccard.
    Uses a lowered threshold because the synthetic embeddings are
    near-random (max cosine ~0.5 — no pairs exist at the 0.9 default)."""
    sf = "/root/testdata/sf0.01"
    exact = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_near_dup_pairs(
            spark, sf, threshold=0.40
        ).collect()
    }
    assert exact  # corpus must actually produce pairs at this threshold
    # production-shaped banding (16 bands x 4 bits at 64 planes)
    prod = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_near_dup_scale(
            spark, sf, threshold=0.40, band_bits=4, n_planes=64
        ).collect()
    }
    assert prod <= exact, "scale path produced a pair the exact twin lacks"
    assert len(prod) / len(exact) >= 0.9, f"recall {len(prod)}/{len(exact)}"
    # generous banding (16 bands x 2 bits): recall 1 on this corpus
    wide = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_near_dup_scale(
            spark, sf, threshold=0.40, band_bits=2, n_planes=32
        ).collect()
    }
    assert wide == exact


def test_cosine_topk_selfsim_excluded_and_ranked(spark):
    rows = similarity.cosine_topk(spark, SF).collect()
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.sim for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_every_query_runs_and_every_oracle_key_exists(spark):
    missing = set(k for k, v in ORACLES.items() if v is not None) - set(QUERIES)
    assert not missing
    for name, fn in QUERIES.items():
        df = fn(spark, SF)
        assert df.columns, name


def test_approx_sketches_bounded_error(spark):
    """HLL distinct and approx percentile must stay near their exact
    twins (the invariant the SQL oracle can't check)."""
    from hadoop_logfile_inputformat_spark.operators.relational_ext import (
        q_approx_sketches,
    )

    rows = q_approx_sketches(spark, SF).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(2, 0.1 * r.exact_users)
        assert abs(r.p95_value - r.p95_exact) <= max(1.0, 0.2 * abs(r.p95_exact))


def test_distinct_rollup_sketch_merge_is_lossless(spark):
    """Union of daily HLL partials must estimate IDENTICALLY to the
    direct whole-week sketch (register max-merge is lossless), and the
    estimate must stay inside the error envelope of the exact count —
    the invariant that lets a 100 TB pipeline answer coarser distincts
    from the rollup table without rescanning raw events."""
    rows = relational_ext.q_distinct_rollup(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.merge_lossless, (r.event_type, r.week)
        assert r.merged_est_ok, (r.event_type, r.week)
        assert r.n_days >= 1
        assert r.exact_users >= 1


def test_asof_join_invariants(spark):
    """Every matched click is at-or-before its purchase, and the match
    is the latest such click (verified by brute force on the fixture)."""
    from hadoop_logfile_inputformat_spark.operators.relational_ext import (
        asof_purchase_last_click,
    )
    from hadoop_logfile_inputformat_spark.operators.tables import load

    rows = asof_purchase_last_click(spark, SF).collect()
    assert rows
    clicks = {}
    for c in (
        load(spark, SF, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "ts")
        .collect()
    ):
        clicks.setdefault(c.user_id, []).append(c.ts)
    n_matched = 0
    for r in rows:
        prior = [t for t in clicks.get(r.user_id, []) if t <= r.ts]
        if r.click_ts is None:
            assert not prior
        else:
            n_matched += 1
            assert r.click_ts == max(prior)
    assert n_matched > 0


def test_fingerprints_nonempty_and_stable(spark):
    from hadoop_logfile_inputformat_spark.operators.text import document_fingerprints

    a = {(r.doc_id, r.fp_min, r.fp_max) for r in
         document_fingerprints(spark, SF).collect()}
    b = {(r.doc_id, r.fp_min, r.fp_max) for r in
         document_fingerprints(spark, SF).collect()}
    assert a == b and a


def test_near_dup_groups_match_union_find(spark):
    """Connected components must agree with a driver-side union-find
    over the exact near-dup pairs, and be total over documents."""
    from hadoop_logfile_inputformat_spark.operators.dedup import near_dup_groups

    pairs = [(r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(spark, SF).collect()]
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    got = {r.doc_id: r.group_id for r in near_dup_groups(spark, SF).collect()}
    assert len(got) == n_docs
    comp = {}
    for d in got:
        root = find(d)
        comp.setdefault(root, []).append(d)
    for root, members in comp.items():
        want = min(members)
        for m in members:
            assert got[m] == want, f"doc {m}: got {got[m]}, want {want}"


def test_curation_scale_path_matches_exact(spark):
    """With LSH recall == 1 on this corpus (asserted separately), the
    scale-path curation must keep exactly the same documents."""
    from hadoop_logfile_inputformat_spark.operators.dedup import (
        curate_documents,
        curate_documents_scale,
    )

    exact = {r.doc_id for r in curate_documents(spark, SF).collect()}
    scale = {r.doc_id for r in curate_documents_scale(spark, SF).collect()}
    assert exact == scale and exact


def test_cosine_arrow_twin_equals_catalyst(spark):
    a = {(r.query_id, r.neighbor_id, r.sim, r.rank)
         for r in similarity.cosine_topk(spark, SF).collect()}
    b = {(r.query_id, r.neighbor_id, r.sim, r.rank)
         for r in similarity.cosine_topk_arrow(spark, SF).collect()}
    assert a == b and a


def test_lsh_hot_bucket_cap_monotone(spark):
    """max_bucket_size (100 TB hot-bucket mitigation) only ever DROPS
    pairs; a generous cap is a no-op; cap=1 kills every candidate."""
    base = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(spark, SF).collect()
    }
    loose = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(spark, SF, max_bucket_size=10**6).collect()
    }
    assert loose == base and base
    assert dedup.minhash_lsh_pairs(spark, SF, max_bucket_size=1).count() == 0
    mid = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(spark, SF, max_bucket_size=3).collect()
    }
    assert mid <= base


def test_simhash_hot_bucket_cap_monotone(spark):
    base = {
        (r.doc_a, r.doc_b) for r in dedup.simhash_pairs(spark, SF).collect()
    }
    loose = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_pairs(spark, SF, max_bucket_size=10**6).collect()
    }
    assert loose == base and base
    assert dedup.simhash_pairs(spark, SF, max_bucket_size=1).count() == 0


def test_quantized_vectors_are_int8_valued(spark):
    """Every quantized component is an integer in [-127, 127] — the
    invariant that makes the quantized dot products exact in double
    arithmetic (and the index storable as array<tinyint> at scale)."""
    v = similarity.quantized_vectors(spark, SF)
    bad = v.filter(
        F.expr("exists(q, x -> abs(x) > 127 OR x != floor(x))")
    ).count()
    assert bad == 0
    assert v.count() > 0


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization perturbs 64-dim cosine by ~1e-2; the top-k
    neighbor sets must stay close to the exact ranking."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(spark, SF).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_cosine_topk_quantized(spark, SF).collect()
    }
    assert exact and quant
    assert len(quant & exact) / len(exact) >= 0.8


def test_pq_topk_recall_and_rerank_exactness(spark):
    """PQ ADC shortlist + exact re-rank: recall vs the quantized-exact
    ranking stays above the documented floor (random vectors are PQ's
    adversarial case — real embeddings cluster), and any (query,
    neighbor) both searches return carries the IDENTICAL similarity,
    because the final ordering comes from the exact re-rank, not the
    lossy ADC estimate."""
    pq = similarity.ann_pq_topk(spark, SF).collect()
    exact = similarity.ann_cosine_topk_quantized(spark, SF).collect()
    assert pq and len({r.query_id for r in pq}) == len({r.query_id for r in exact})
    by_q_pq, by_q_ex = {}, {}
    for r in pq:
        assert 1 <= r.rank <= similarity.TOP_K
        by_q_pq.setdefault(r.query_id, {})[r.neighbor_id] = r.sim
    for r in exact:
        by_q_ex.setdefault(r.query_id, {})[r.neighbor_id] = r.sim
    hits = total = 0
    for q, ex in by_q_ex.items():
        got = by_q_pq.get(q, {})
        for n, sim in ex.items():
            total += 1
            if n in got:
                hits += 1
                assert got[n] == sim  # re-rank is exact, not ADC
    assert hits / total >= 0.6, f"PQ recall {hits}/{total}"


def test_cosine_arrow_query_side_capped(spark, monkeypatch):
    """A modulus that turns the 'query' side into the corpus must fail
    fast instead of collecting it onto the driver."""
    monkeypatch.setattr(similarity, "MAX_ARROW_QUERIES", 2)
    with pytest.raises(ValueError, match="query side exceeds"):
        similarity.cosine_topk_arrow(spark, SF, query_modulus=1)


def test_redact_text_semantics_on_constructed_pii(spark):
    """The synthetic corpus has no PII, so the oracle only proves the
    no-op path; real semantics are asserted here on constructed rows."""
    from hadoop_logfile_inputformat_spark.operators.text import redact_text

    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com and 10.0.0.1 plus 555-123-4567 end"),
            (2, "no pii here"),
            (3, "two mails a@b.io c@d.org"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.clean_text, r.n_redactions)
           for r in redact_text(df).collect()}
    assert got[1] == ("mail <EMAIL> and <IP> plus <PHONE> end", 3)
    assert got[2] == ("no pii here", 0)
    assert got[3] == ("two mails <EMAIL> <EMAIL>", 2)


def test_chunk_documents_matches_definition_and_covers(spark):
    """Every chunk equals tokens[start : start+CHUNK_TOKENS] for
    start = chunk_id*step; chunk ids are dense; the chunks cover the
    whole token stream (no token lost, overlap exactly as configured)."""
    from hadoop_logfile_inputformat_spark.operators.text import (
        CHUNK_OVERLAP,
        CHUNK_TOKENS,
        chunk_documents,
    )
    from hadoop_logfile_inputformat_spark.operators.tables import load

    step = CHUNK_TOKENS - CHUNK_OVERLAP
    by_doc: dict = {}
    for r in chunk_documents(spark, SF).collect():
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
    docs = {r.doc_id: r.text for r in load(spark, SF, "documents").collect()}
    assert set(by_doc) == set(docs)
    for doc_id, parts in by_doc.items():
        toks = docs[doc_id].split()
        assert sorted(parts) == list(range(len(parts))), "chunk ids not dense"
        last_covered = 0
        for i in range(len(parts)):
            c = parts[i]
            start = i * step
            expected = toks[start : start + CHUNK_TOKENS]
            assert c.chunk_text.split() == expected, f"doc {doc_id} chunk {i}"
            assert c.n_tokens == len(expected) <= CHUNK_TOKENS
            last_covered = start + len(expected)
        assert last_covered == len(toks), f"doc {doc_id} tail not covered"


def test_salted_join_equals_plain_join(spark):
    """Salting must not change join semantics — only shuffle layout."""
    from hadoop_logfile_inputformat_spark.operators.skew import salted_join
    from hadoop_logfile_inputformat_spark.operators.tables import load

    o = load(spark, SF, "orders").select("o_custkey", "o_orderkey")
    c = load(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = {tuple(r) for r in o.join(c, "o_custkey").collect()}
    salted = {tuple(r) for r in salted_join(o, c, "o_custkey", n_salts=8).collect()}
    assert salted == plain and plain

    left_plain = {tuple(r) for r in o.join(c, "o_custkey", "left").collect()}
    left_salted = {
        tuple(r) for r in salted_join(o, c, "o_custkey", n_salts=8, how="left").collect()
    }
    assert left_salted == left_plain


def test_chunk_documents_degenerate_text_does_not_fail(spark, tmp_path):
    """Null text must yield zero chunks (oracle parity: generate_series
    over NULL emits nothing), never Spark's 'Illegal sequence
    boundaries' error; empty text chunks as a single empty token."""
    from hadoop_logfile_inputformat_spark.operators.text import chunk_documents

    rows = [(1, "alpha beta gamma"), (2, None), (3, "")]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = chunk_documents(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc, "null text must produce no chunks"
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk_text == "alpha beta gamma"
    assert len(by_doc[3]) == 1  # '' splits to one empty token


def test_corpus_split_deterministic_and_weighted(spark):
    """Split assignment must be a pure function of the key (stable
    across runs/engines — no seed, no sampling) and approximate the
    80/10/10 weights; md5 bucketing bounds the error."""
    from hadoop_logfile_inputformat_spark.operators.splits import corpus_split

    a = {r.doc_id: (r.split, r.bucket)
         for r in corpus_split(spark, SF).collect()}
    b = {r.doc_id: (r.split, r.bucket)
         for r in corpus_split(spark, SF).collect()}
    assert a == b and a
    from collections import Counter

    frac = Counter(s for s, _ in a.values())
    n = len(a)
    assert 0.7 <= frac["train"] / n <= 0.9
    assert 0.03 <= frac["val"] / n <= 0.2
    assert 0.03 <= frac["test"] / n <= 0.2


def test_global_row_number_matches_window_without_pid_shuffle(spark):
    """The mid-encoded two-phase row number (r16: local rank via
    ``monotonically_increasing_id`` after an intra-partition sort) must
    be value-identical to the single-partition window form, and its
    plan must NOT contain the data-sized ``hashpartitioning(__rank_pid)``
    exchange the old ``row_number() OVER (PARTITION BY
    spark_partition_id())`` formulation paid: every remaining
    ``__rank_pid`` exchange may only merge a partial aggregate."""
    from pyspark.sql import Window
    from hadoop_logfile_inputformat_spark.operators.ranks import (
        with_global_row_number,
    )

    rows = [((i * 37) % 11, i) for i in range(200)]
    df = spark.createDataFrame(rows, "g int, k int")
    ranked = with_global_row_number(
        df, [F.asc("g"), F.asc("k")], rn_col="rn", total_col="n",
        num_partitions=8,
    )
    got = {(r.g, r.k): (r.rn, r.n) for r in ranked.collect()}
    w = Window.orderBy("g", "k")
    want = {
        (r.g, r.k): (r.rn, 200)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want and len(got) == 200
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange hashpartitioning(__rank_pid" not in line:
            continue
        if "ReusedExchange" in line:
            # a reuse REFERENCE to an exchange validated at its
            # defining occurrence; its printed "child" is whatever
            # plan line follows, not the exchange's input
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert "HashAggregate" in child and "partial_" in child, (
            f"data-sized __rank_pid exchange survived:\n{line}\n{child}"
        )
    assert "Window" not in plan  # local rank needs no window at all


def test_global_running_sum_matches_window(spark):
    """The two-phase distributed cumsum must be value-identical to the
    single-partition window it replaces, under a total order."""
    from pyspark.sql import Window
    from hadoop_logfile_inputformat_spark.operators.ranks import (
        with_global_running_sum,
    )

    rows = [(i % 7, i, (i * 37) % 11 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "g int, k int, v int")
    got = {
        (r.g, r.k): r.cum
        for r in with_global_running_sum(
            df, [F.col("g"), F.col("k")], "v", num_partitions=8
        ).collect()
    }
    w = Window.orderBy("g", "k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r.g, r.k): r.cum
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want and len(got) == 200


def test_pack_sequences_bins_are_exact_prefix_sums(spark):
    """token_start must be the exclusive prefix sum of n_tokens under
    (doc_id, chunk_id) order; bin/straddle arithmetic must follow."""
    from hadoop_logfile_inputformat_spark.operators.text import (
        PACK_BUDGET,
        pack_sequences,
    )

    rows = sorted(
        pack_sequences(spark, SF).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    assert rows and rows[0].token_start == 0
    run = 0
    for r in rows:
        assert r.token_start == run, (r.doc_id, r.chunk_id)
        assert r.bin_id == r.token_start // PACK_BUDGET
        end = r.token_start + r.n_tokens
        assert r.straddles == int((end - 1) // PACK_BUDGET != r.bin_id)
        run = end


def test_decontaminate_flags_only_shingle_overlap(spark, tmp_path):
    """Docs sharing a 5-word shingle with an eval doc (doc_id%97==0)
    are reported with the exact distinct-shingle overlap count; disjoint
    docs and the eval docs themselves are absent."""
    from hadoop_logfile_inputformat_spark.operators.text import decontaminate

    eval_text = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (0, eval_text),  # eval doc (0 % 97 == 0)
        (1, "prefix the quick brown fox jumps over suffix words"),  # 2 shared
        (2, "completely different content with no overlap at all"),
        (3, None),
        (97, "another eval doc entirely disjoint from the rest ok"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r.doc_id: r.n_shared_shingles
           for r in decontaminate(spark, str(tmp_path)).collect()}
    # doc 1 shares "the quick brown fox jumps" and "quick brown fox jumps over"
    assert got == {1: 2}


def test_repetition_profile_counts_and_flag(spark, tmp_path):
    """Integer gram counts and the cross-multiplied Gopher flag on a
    constructed corpus; 1-token docs degenerate to top-gram == whole
    doc (trivially 100% coverage, flagged)."""
    from hadoop_logfile_inputformat_spark.operators.text import (
        repetition_profile,
    )

    rows = [
        (1, "a a a a a a a a a a"),           # 9x bigram "a a"
        # all distinct, long enough that one trigram is under 18%
        (2, " ".join(f"w{i}" for i in range(30))),
        (3, "x"),
        (4, None),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r.doc_id: r.asDict() for r in repetition_profile(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_tokens"] == 10 and got[1]["top2_cnt"] == 9
    assert got[1]["dup2_cnt"] == 9 and got[1]["repetitive"] == 1
    assert got[2]["n_tokens"] == 30
    assert got[2]["top2_cnt"] == 1 and got[2]["dup2_cnt"] == 0
    assert got[2]["repetitive"] == 0
    assert got[3]["n_tokens"] == 1 and got[3]["repetitive"] == 1


def test_mixture_sample_deterministic_and_rate_bounded(spark):
    """Keep decision must be a pure function of doc_id (stable across
    runs), buckets in 0..999, and every kept row under its language's
    rate; the kept fraction of the dominant language approximates its
    per-mille rate."""
    from hadoop_logfile_inputformat_spark.operators.text import (
        MIXTURE_RATES,
        language_id,
        mixture_sample,
    )

    a = {r.doc_id: (r.lang_pred, r.mix_bucket)
         for r in mixture_sample(spark, SF).collect()}
    b = {r.doc_id: (r.lang_pred, r.mix_bucket)
         for r in mixture_sample(spark, SF).collect()}
    assert a == b and a
    langs = {r.doc_id: r.lang_pred for r in language_id(spark, SF).collect()}
    for doc_id, (lang, bucket) in a.items():
        rate = MIXTURE_RATES.get(lang, MIXTURE_RATES["und"])
        assert 0 <= bucket < 1000 and bucket < rate
        assert langs[doc_id] == lang
    from collections import Counter

    pred = Counter(langs.values())
    dominant, n_dom = pred.most_common(1)[0]
    kept_dom = sum(1 for lang, _ in a.values() if lang == dominant)
    rate = MIXTURE_RATES.get(dominant, MIXTURE_RATES["und"]) / 1000
    assert abs(kept_dom / n_dom - rate) < 0.15


def test_stratified_sample_two_phase_equals_direct_window(spark):
    """The scale path (partition-local top-k then final ranking) must
    return exactly what a direct per-language window returns, and never
    more than k rows per language."""
    from pyspark.sql import Window
    from hadoop_logfile_inputformat_spark.operators import text as t

    got = {(r.doc_id, r.lang_pred, r.rk) for r in t.stratified_sample(spark, SF).collect()}
    langs = t.language_id(spark, SF).select("doc_id", "lang_pred")
    key = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang_pred").orderBy("_sk", "doc_id")
    direct = {
        (r.doc_id, r.lang_pred, r.rk)
        for r in langs.withColumn("_sk", key)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= t.STRATIFIED_K)
        .select("doc_id", "lang_pred", "rk")
        .collect()
    }
    assert got == direct
    assert got
    from collections import Counter
    per_lang = Counter(lang for _, lang, _ in got)
    assert all(c <= t.STRATIFIED_K for c in per_lang.values())


def test_training_corpus_composition_invariants(spark):
    """Output docs must be exactly: curated ∩ train-split, minus
    contaminated and benchmark docs; packing invariants must hold on
    the filtered chunk stream (prefix sums restart-free, bins exact)."""
    from hadoop_logfile_inputformat_spark.operators.dedup import curate_documents
    from hadoop_logfile_inputformat_spark.operators.pipeline import training_corpus
    from hadoop_logfile_inputformat_spark.operators.splits import corpus_split
    from hadoop_logfile_inputformat_spark.operators.text import (
        DECONTAM_MOD,
        PACK_BUDGET,
        decontaminate,
    )

    rows = sorted(
        training_corpus(spark, SF).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    assert rows
    kept = {r.doc_id for r in curate_documents(spark, SF).collect()}
    cont = {r.doc_id for r in decontaminate(spark, SF).collect()}
    train = {r.doc_id for r in corpus_split(spark, SF).collect()
             if r.split == "train"}
    expected = {
        d for d in (kept & train) - cont if d % DECONTAM_MOD != 0
    }
    assert {r.doc_id for r in rows} == expected
    run = 0
    for r in rows:
        assert r.token_start == run
        assert r.bin_id == r.token_start // PACK_BUDGET
        run = r.token_start + r.n_tokens


def _write_embeddings(spark, tmp_path, vecs):
    rows = [(i, [float(x) for x in v], "t") for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_lsh_geometry_scales_band_width_with_corpus():
    """Adaptive hyperplane-LSH geometry: band width grows log2 with
    the corpus (buckets ∝ N → candidate volume ~linear), never below
    the fixture geometry, with the band count pinned — found by the
    x100 scale soak, where the old fixed 8 bits meant ~780-member
    buckets and ~10⁹ candidate pairs at 200k vectors."""
    g = similarity._lsh_geometry
    # fixture scales keep the oracle-parity geometry (8 bits, 128 planes)
    assert g(0) == (8, 128)
    assert g(500) == (8, 128)
    assert g(2_000) == (8, 128)
    assert g(16 * 256) == (8, 128)  # boundary: exactly 2^8 buckets
    # beyond it, width tracks ceil(log2(n/target)) at 16 bands
    assert g(16 * 256 + 1) == (9, 144)
    assert g(200_000) == (14, 224)
    assert g(10**9) == (26, 416)
    # mean bucket size stays bounded: n / 2^bits <= 64 everywhere
    for n in (10**4, 10**6, 10**8, 10**10):
        bits, _ = g(n)
        assert n / (1 << bits) <= similarity.LSH_TARGET_BUCKET


def test_effective_modulus_caps_centroid_and_codebook_cardinality():
    """IVF centroids / PQ codebook: at fixture scales the adaptive
    modulus resolves to the plain one (oracle parity), and beyond the
    cap the stand-in cardinality n//modulus stays ~IVF_CENTROID_TARGET
    instead of growing ∝ N (the x100 soak's measured quadratic)."""
    m = similarity._effective_modulus
    # every gated fixture scale: unchanged geometry
    assert m(200) == 25 and m(500) == 25 and m(2_000) == 25
    assert m(80 * 25) == 25  # boundary: exactly target*modulus vectors
    # beyond it the modulus tracks n/target
    assert m(20_000) == 250
    assert m(200_000) == 2500
    for n in (10**5, 10**7, 10**9):
        assert n // m(n) <= similarity.IVF_CENTROID_TARGET + 1
    # PQ-entry sites pass target=PQ_ENTRY_TARGET (r13): the codebook
    # budget knee measured on the clustered corpora — fixture scales
    # (and everything up to 25*320 = 8000 vectors) still resolve to
    # the plain modulus, so oracle parity and bench timings are
    # untouched; larger corpora hold ~PQ_ENTRY_TARGET entries instead
    # of the routing-tier's ~80.
    def mp(n):
        return m(n, similarity.PQ_CODEBOOK_MODULUS,
                 similarity.PQ_ENTRY_TARGET)

    assert mp(200) == 25 and mp(2_000) == 25 and mp(8_000) == 25
    assert mp(20_000) == 62  # n // 320
    for n in (10**5, 10**7, 10**9):
        assert n // mp(n) <= similarity.PQ_ENTRY_TARGET + 1


def test_embedding_near_dup_scale_adaptive_default_matches_explicit(spark):
    """At fixture scale the adaptive default must resolve to the exact
    oracle-parity geometry — bit-identical output to the explicit
    (8-bit, 128-plane) call."""
    dflt = similarity.embedding_near_dup_scale(spark, SF, threshold=0.40)
    expl = similarity.embedding_near_dup_scale(
        spark, SF, threshold=0.40, band_bits=8, n_planes=128
    )
    assert sorted(map(tuple, dflt.collect())) == sorted(
        map(tuple, expl.collect())
    )


def test_embedding_near_dup_scale_bucket_cap_drops_hot_bucket(spark, tmp_path):
    """max_bucket_size: a constructed hot bucket (many copies of one
    direction) is excluded from candidate generation, while pairs in
    small buckets survive."""
    import math

    def ray(plane, deg, scale=1.0):
        v = [0.0] * 4
        v[plane] = scale * math.cos(math.radians(deg))
        v[plane + 1] = scale * math.sin(math.radians(deg))
        return v

    # ids 0-19: one direction repeated at tiny angular jitter (all in
    # one LSH bucket, all true near-dups); ids 20-21: one isolated pair
    vecs = [ray(0, 0.01 * i) for i in range(20)]
    vecs += [ray(2, 10), ray(2, 10.5)]
    sf = _write_embeddings(spark, tmp_path, vecs)
    capped = similarity.embedding_near_dup_scale(
        spark, sf, threshold=0.95, band_bits=4, n_planes=64,
        max_bucket_size=10,
    )
    got = {(r.vec_a, r.vec_b) for r in capped.collect()}
    assert (20, 21) in got
    assert not any(a < 20 and b < 20 for a, b in got)
    uncapped = similarity.embedding_near_dup_scale(
        spark, sf, threshold=0.95, band_bits=4, n_planes=64
    )
    assert len(uncapped.collect()) >= 20 * 19 // 2 + 1


def test_prefilter_recall_at_production_threshold_and_geometry(spark, tmp_path):
    """Hamming-prefilter recall at the PRODUCTION operating point —
    threshold 0.9 at the default 128-plane / 8-bit geometry, prefilter
    mathematically active (hbound << n_planes) — with INJECTED known
    near-dups: every planted pair must survive, and the final output
    must be identical with the prefilter disabled (``hbound_sigmas=
    None``) — the prefilter may only shed collisions the exact-cosine
    verify would reject anyway.  Also pins the degrade-to-no-op
    contract at a loose threshold."""
    import math

    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.standard_normal((40, 64))
    vecs = [list(map(float, v)) for v in base]
    # 10 planted near-dup partners: tiny additive perturbation keeps
    # cosine >= ~0.97 (well above threshold, well inside banding
    # survival ~1.0 at 16 bands x 8 bits)
    planted = []
    for i in range(10):
        v = base[i]
        w = v + 0.12 * rng.standard_normal(64) * np.linalg.norm(v) / 8.0
        cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
        assert cos >= 0.95, cos
        planted.append((i, 40 + len(planted)))
        vecs.append([float(x) for x in w])
    sf = _write_embeddings(spark, tmp_path, vecs)

    # the prefilter must actually be ON at this operating point
    p_dis = math.acos(0.9) / math.pi
    hbound = math.ceil(128 * p_dis + 6 * math.sqrt(128 * p_dis * (1 - p_dis)))
    assert hbound < 128 // 2  # far below the random-pair mean (64)

    filtered = similarity.embedding_near_dup_scale(
        spark, sf, threshold=0.9, band_bits=8, n_planes=128
    )
    got = {(r.vec_a, r.vec_b) for r in filtered.collect()}
    assert set(planted) <= got, set(planted) - got
    unfiltered = similarity.embedding_near_dup_scale(
        spark, sf, threshold=0.9, band_bits=8, n_planes=128,
        hbound_sigmas=None,
    )
    assert got == {(r.vec_a, r.vec_b) for r in unfiltered.collect()}

    # loose threshold: the bound reaches/exceeds n_planes' random-pair
    # regime and the prefilter must not change the output either
    loose = similarity.embedding_near_dup_scale(
        spark, sf, threshold=-1.0, band_bits=8, n_planes=128
    )
    loose_off = similarity.embedding_near_dup_scale(
        spark, sf, threshold=-1.0, band_bits=8, n_planes=128,
        hbound_sigmas=None,
    )
    assert sorted(map(tuple, loose.collect())) == sorted(
        map(tuple, loose_off.collect())
    )


def test_planes_cache_is_session_keyed(spark):
    """_PLANES_CACHE must key on the LIVE application id: a stale
    entry from a stopped-and-recreated session (different appId) must
    never be returned — the cached DataFrame would be bound to a dead
    session (found by ADVICE r8)."""
    similarity._PLANES_CACHE.clear()
    df = similarity._hyperplanes(spark, 8, 4, seed=3)
    app = spark.sparkContext.applicationId
    assert (app, 8, 4, 3) in similarity._PLANES_CACHE
    # plant a stale dead-session entry: same geometry, different appId;
    # a fresh call must ignore it and return the live-session frame
    similarity._PLANES_CACHE[("dead-app-0000", 8, 4, 3)] = object()
    again = similarity._hyperplanes(spark, 8, 4, seed=3)
    assert again is df  # memo hit on the LIVE key, not the stale one
    del similarity._PLANES_CACHE[("dead-app-0000", 8, 4, 3)]


def test_ann_ivf_kmeans_end_to_end_recall(spark):
    """Learned-centroid IVF exercised END TO END (spherical k-means →
    build_ivf_index → ann_ivf_probe), judged on recall vs brute-force
    ground truth — and it must beat-or-match the modulus-centroid
    baseline on an HONEST query set, one disjoint from both centroid
    sets.  (The registry fixture's default queries, vec_id%50==0, are a
    subset of the modulus centroids vec_id%25==0: every such query
    probes its own cluster at sim 1.0, flattering the baseline to ~0.96
    while any non-coincident centroid set measures ~0.3-0.5.)"""
    import numpy as np

    sf = "/root/testdata/sf0.01"
    rows = similarity.load(spark, sf, "embeddings").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=float)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    neutral_ids = [int(i) for i in ids[ids % 50 == 7]]
    idx = {int(v): i for i, v in enumerate(ids)}
    truth = {}
    for q in neutral_ids:
        srow = S[idx[q]].copy()
        srow[idx[q]] = -9.0
        truth[q] = {int(ids[j]) for j in np.argsort(-srow)[:5]}

    v = similarity._vectors(spark, sf)
    neutral = v.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n_cent = int((ids % 25 == 0).sum())

    def _recall(hits):
        got = {}
        for r in hits.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        matched = sum(len(got.get(q, set()) & truth[q]) for q in truth)
        return matched / (5 * len(truth))

    names = ("t_ivf_mod", "t_ivf_km")
    for n in names:
        for s in ("_lists", "_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {n}{s}")
    try:
        similarity.build_ivf_index(
            spark, v.select("vec_id", "embedding"), "t_ivf_mod"
        )
        r_mod = _recall(similarity.ann_ivf_probe(spark, neutral, "t_ivf_mod"))
        cents = similarity.kmeans_centroids(
            v.select("vec_id", "embedding"), k=n_cent, iters=3, metric="cosine"
        )
        assert cents.count() == n_cent
        similarity.build_ivf_index(
            spark, v.select("vec_id", "embedding"), "t_ivf_km", centroids=cents
        )
        r_km = _recall(similarity.ann_ivf_probe(spark, neutral, "t_ivf_km"))
    finally:
        for n in names:
            for s in ("_lists", "_centroids"):
                spark.sql(f"DROP TABLE IF EXISTS {n}{s}")
    # learned quantization must not lose to an arbitrary-subset one,
    # and must clear an absolute floor well above random candidates
    assert r_km >= r_mod, (r_km, r_mod)
    assert r_km >= 0.35, r_km


def test_ann_pq_kmeans_end_to_end_recall(spark):
    """Learned-codebook PQ exercised END TO END (per-subspace k-means →
    encode → ADC shortlist → exact re-rank), judged on recall vs
    brute-force ground truth over the operator's own re-rank space (the
    quantized vectors) — and it must beat-or-match the modulus-codebook
    baseline at the SAME per-subspace entry budget on a DISJOINT query
    set (vec_id%50==7 is never ≡0 mod 25, so no query is a codebook
    exemplar)."""
    import numpy as np

    sf = "/root/testdata/sf0.01"
    v = similarity.quantized_vectors(spark, sf)
    rows = v.select("vec_id", "q").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    Q = np.array([r.q for r in rows], dtype=float)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    S = Qn @ Qn.T
    neutral_ids = [int(i) for i in ids[ids % 50 == 7]]
    idx = {int(x): i for i, x in enumerate(ids)}
    truth = {}
    for q in neutral_ids:
        srow = S[idx[q]].copy()
        srow[idx[q]] = -9.0
        truth[q] = {int(ids[j]) for j in np.argsort(-srow)[:5]}

    queries = v.filter(F.col("vec_id") % 50 == 7)
    n = len(rows)
    eff = similarity._effective_modulus(n, similarity.PQ_CODEBOOK_MODULUS)
    n_entries = max(2, n // eff)

    def _recall(hits):
        got = {}
        for r in hits.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got.get(q, set()) & truth[q]) for q in truth) / (
            5 * len(truth)
        )

    cb_mod = similarity._pq_modulus_codebooks(v, eff)
    r_mod = _recall(similarity._pq_adc_search(v, cb_mod, queries))
    cb_km = similarity.pq_codebooks_kmeans(v, n_entries=n_entries, iters=3)
    assert cb_km.count() == similarity.PQ_M * n_entries
    r_km = _recall(similarity._pq_adc_search(v, cb_km, queries))
    # learned quantization must not lose to an arbitrary-subset one at
    # the same entry budget, and must clear an absolute floor
    assert r_km >= r_mod, (r_km, r_mod)
    assert r_km >= 0.35, r_km


def test_ann_pq_topk_kmeans_operator_contract(spark):
    """The bench-facing learned-PQ lifecycle op: schema/rank contract
    and a recall floor vs the exact brute-force twin on the default
    query set (deterministic hash-spread init, fixed fixture)."""
    sf = "/root/testdata/sf0.01"
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(spark, sf).collect()
    }
    out = similarity.ann_pq_topk_kmeans(spark, sf)
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
    got = out.collect()
    assert got and all(1 <= r.rank <= 5 for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(x) == list(range(1, len(x) + 1)) for x in per_q.values())
    approx = {(r.query_id, r.neighbor_id) for r in got}
    assert len(approx & exact) / len(exact) >= 0.3


def test_ann_ivf_topk_kmeans_operator_contract(spark):
    """The bench-facing one-call lifecycle op: schema/rank contract and
    a recall floor vs the exact brute-force twin on the default query
    set (deterministic: hash-spread init + fixed fixture)."""
    sf = "/root/testdata/sf0.01"
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(spark, sf).collect()
    }
    out = similarity.ann_ivf_topk_kmeans(spark, sf)
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
    got = out.collect()
    assert got and all(1 <= r.rank <= 5 for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    approx = {(r.query_id, r.neighbor_id) for r in got}
    assert len(approx & exact) / len(exact) >= 0.3


def test_semantic_dedup_drops_injected_near_dup(spark, tmp_path):
    """Two planted clusters; one vector is a scaled copy of a
    cluster-mate — SemDeDup must drop exactly the higher-id copy."""
    import math

    def ray(plane, deg, scale=1.0):
        v = [0.0, 0.0, 0.0, 0.0]
        v[plane] = scale * math.cos(math.radians(deg))
        v[plane + 1] = scale * math.sin(math.radians(deg))
        return v

    # ids 0-4: plane (0,1) at 22-degree steps (pairwise cosine <= .93);
    # ids 5-8: plane (2,3); id 9 = 2x id 8's direction (cosine 1.0)
    vecs = [ray(0, d) for d in (0, 22, 44, 66, 88)]
    vecs += [ray(2, d) for d in (0, 22, 44, 66)]
    vecs.append(ray(2, 66, scale=2.0))
    sf = _write_embeddings(spark, tmp_path, vecs)
    out = {
        r.vec_id: r
        for r in similarity.semantic_dedup(
            spark, sf, tau=0.95, centroid_modulus=5
        ).collect()
    }
    assert set(out) == set(range(10))
    # survivor rule: only the higher-id copy (9) is dropped
    assert [i for i in out if out[i].kept == 0] == [9]
    assert out[8].n_close == 1 and out[9].n_close == 1
    assert out[8].max_mate_sim == 1.0 and out[9].max_mate_sim == 1.0
    # cluster structure: centroids are ids 0 and 5, planes segregate
    assert all(out[i].centroid_id == 0 for i in range(5))
    assert all(out[i].centroid_id == 5 for i in range(5, 10))
    # non-dup vectors keep sub-threshold mate sims
    assert all(out[i].max_mate_sim < 0.95 for i in range(8))


def test_semantic_dedup_caps_mega_cluster(spark, tmp_path, monkeypatch):
    """Hot-cluster guard: a constructed mega-cluster must be excluded
    from the quadratic pairwise stage (bounded candidate rows), its
    members surviving flagged — while small clusters dedup normally.
    Exercises BOTH the explicit-cap argument and the no-argument
    production default (SEMDEDUP_MAX_CLUSTER, tightened for the test),
    plus the explicit ``None`` opt-out the registry oracle binding
    uses."""
    import math

    def ray(plane, deg, scale=1.0):
        v = [0.0] * 4
        v[plane] = scale * math.cos(math.radians(deg))
        v[plane + 1] = scale * math.sin(math.radians(deg))
        return v

    # ids 0-19: one 20-member mega-cluster on plane (0,1), all within
    # 2 degrees of each other (every pair would exceed tau);
    # ids 20-23: a small plane-(2,3) cluster with one planted dup
    vecs = [ray(0, 0.1 * i) for i in range(20)]
    vecs += [ray(2, 0), ray(2, 40), ray(2, 40, scale=2.0), ray(2, 80)]
    sf = _write_embeddings(spark, tmp_path, vecs)
    capped = similarity.semantic_dedup(
        spark, sf, tau=0.95, centroid_modulus=20, max_cluster_size=10
    )
    out = {r.vec_id: r for r in capped.collect()}
    assert set(out) == set(range(24))
    # mega-cluster (centroid 0) skipped the pairwise stage entirely
    for i in range(20):
        r = out[i]
        assert r.cluster_capped == 1 and r.kept == 1 and r.n_close == 0
        assert r.max_mate_sim is None
    # the small cluster still dedups: 22 is a scaled copy of 21
    assert [i for i in range(20, 24) if out[i].kept == 0] == [22]
    assert all(out[i].cluster_capped == 0 for i in range(20, 24))
    # bounded candidate volume: only the small cluster's 4*3 oriented
    # pairs reach the similarity computation (mega would add 20*19).
    # max_cluster_size=None is the explicit exact-parity opt-out (the
    # registry oracle binding): no cap, no cluster_capped column.
    uncapped = similarity.semantic_dedup(
        spark, sf, tau=0.95, centroid_modulus=20, max_cluster_size=None
    )
    assert "cluster_capped" not in uncapped.columns
    n_uncapped_close = sum(r.n_close for r in uncapped.collect())
    n_capped_close = sum(r.n_close for r in out.values())
    assert n_uncapped_close >= 20 * 19 + 2  # mega pairs all within tau
    assert n_capped_close == 2
    # the PRODUCTION DEFAULT path (no max_cluster_size argument) is
    # guarded: tighten the module cap and the same mega-cluster is
    # skipped without the caller opting in
    monkeypatch.setattr(similarity, "SEMDEDUP_MAX_CLUSTER", 10)
    dflt = {
        r.vec_id: r
        for r in similarity.semantic_dedup(
            spark, sf, tau=0.95, centroid_modulus=20
        ).collect()
    }
    assert all(dflt[i].cluster_capped == 1 for i in range(20))
    assert all(dflt[i].kept == 1 and dflt[i].n_close == 0 for i in range(20))
    assert [i for i in range(20, 24) if dflt[i].kept == 0] == [22]


def test_semantic_dedup_hierarchical_assignment(spark, tmp_path):
    """Coarse-then-fine assignment (the O(N·√k) scale path): on
    well-separated clusters it must agree with the flat assignment
    EXACTLY (the true nearest centroid's coarse parent is always
    probed); on the near-random fixture — the adversarial worst case
    for a two-level quantizer — it must stay total (one row per
    vector) and agree with flat on a solid majority at the default
    probe width."""
    import math

    def ray(plane, deg, scale=1.0):
        v = [0.0] * 8
        v[plane] = scale * math.cos(math.radians(deg))
        v[plane + 1] = scale * math.sin(math.radians(deg))
        return v

    # four tight clusters on disjoint planes, ids arranged so the
    # modulus-5 centroids (0,5,10,15) hit one vector of each plane
    vecs = []
    for c in range(4):
        for i in range(5):
            vecs.append(ray(2 * c, 3 * i))
    sf = _write_embeddings(spark, tmp_path, vecs)
    flat = {
        r.vec_id: r
        for r in similarity.semantic_dedup(
            spark, sf, tau=0.95, centroid_modulus=5
        ).collect()
    }
    hier = {
        r.vec_id: r
        for r in similarity.semantic_dedup(
            spark, sf, tau=0.95, centroid_modulus=5,
            assignment="hierarchical",
        ).collect()
    }
    assert set(hier) == set(flat) == set(range(20))
    assert all(
        hier[i].centroid_id == flat[i].centroid_id
        and hier[i].kept == flat[i].kept
        for i in range(20)
    )
    # the audit column: hierarchical rows carry the probed-cell rank
    # that produced the assignment (flat output has no such column);
    # rank is 1-based and bounded by the probe width
    assert all(1 <= hier[i].coarse_rank <= 3 for i in range(20))
    assert "coarse_rank" not in (
        similarity.semantic_dedup(
            spark, sf, tau=0.95, centroid_modulus=5
        ).columns
    )
    # near-random fixture: totality + majority agreement (measured
    # 0.82 at probe 3; random data is the worst case — real embedding
    # spaces cluster, which is the regime SemDeDup targets)
    SFD = "/root/testdata/sf0.01"
    f2 = {
        r.vec_id: r.centroid_id
        for r in similarity.semantic_dedup(spark, SFD).collect()
    }
    h2 = {
        r.vec_id: r.centroid_id
        for r in similarity.semantic_dedup(
            spark, SFD, assignment="hierarchical"
        ).collect()
    }
    assert set(h2) == set(f2)
    agree = sum(1 for k in f2 if h2[k] == f2[k]) / len(f2)
    assert agree >= 0.6, agree
    # probe→agreement curve: a wider probe can only see more cells, so
    # agreement with flat must not degrade probe 1 → 3 (the audit
    # column's premise: high-rank rows are where probing wider helps)
    h1 = {
        r.vec_id: r.centroid_id
        for r in similarity.semantic_dedup(
            spark, SFD, assignment="hierarchical", coarse_probe=1
        ).collect()
    }
    agree1 = sum(1 for k in f2 if h1[k] == f2[k]) / len(f2)
    assert agree1 <= agree + 0.02, (agree1, agree)


def test_ann_ivf_kmeans_warehouse_hygiene(spark):
    """Default invocations are concurrency-safe and self-cleaning: the
    index name is invocation-unique and the ``_lists``/``_centroids``
    tables are dropped before returning — with the probe result
    materialized DISTRIBUTED (eager localCheckpoint), never collected:
    |queries| is N/query_modulus, linear in the corpus, so a driver
    collect here is an O(N) OOM at scale (ADVICE r8).  Explicit names
    KEEP the index, and two distinct names coexist without clobbering
    each other."""
    import inspect

    # code-shape gate: no driver collect of the result set on any path
    # (kmeans_centroids' own bounded k x dim collects live elsewhere)
    assert ".collect()" not in inspect.getsource(similarity.ann_ivf_topk_kmeans)
    before = {t.name for t in spark.catalog.listTables()}
    out = similarity.ann_ivf_topk_kmeans(spark, SF, n_centroids=4, iters=1)
    # distributed materialization: the ephemeral frame scans checkpoint
    # RDD blocks (executor-resident), not a driver-local relation
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan
    rows = out.collect()
    assert rows
    assert {t.name for t in spark.catalog.listTables()} == before
    try:
        r1 = similarity.ann_ivf_topk_kmeans(
            spark, SF, n_centroids=4, iters=1, name="kmh_a"
        )
        r2 = similarity.ann_ivf_topk_kmeans(
            spark, SF, n_centroids=4, iters=1, name="kmh_b"
        )
        n1 = r1.count()
        assert n1 == r2.count() == len(rows)  # deterministic lifecycle
        tabs = {t.name for t in spark.catalog.listTables()}
        assert {
            "kmh_a_lists", "kmh_a_centroids", "kmh_b_lists", "kmh_b_centroids"
        } <= tabs
        # the first probe still reads ITS index after the second build
        assert r1.count() == n1
    finally:
        for t in ("kmh_a_lists", "kmh_a_centroids",
                  "kmh_b_lists", "kmh_b_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_hierarchical_assignment_survives_tiny_centroid_count(spark, tmp_path):
    """k <= 3 centroids makes coarse_step == 1; the coarse-cell filter
    must then select EVERY centroid (the all-coarse degenerate case),
    not none — the old ``_r % 1 == 1`` predicate was never true, the
    coarse frame came back empty, and semantic_dedup(hierarchical)
    silently returned ZERO rows (every vector dropped)."""
    import math

    def ray(plane, deg):
        v = [0.0] * 8
        v[plane] = math.cos(math.radians(deg))
        v[plane + 1] = math.sin(math.radians(deg))
        return v

    # two tight clusters on disjoint planes; modulus-4 centroids are
    # vec_ids 0 and 4 — one per cluster, k=2, isqrt(2)=1
    vecs = [ray(0, 3 * i) for i in range(4)] + [ray(2, 3 * i) for i in range(4)]
    sf = _write_embeddings(spark, tmp_path, vecs)
    flat = {
        r.vec_id: (r.centroid_id, r.kept)
        for r in similarity.semantic_dedup(
            spark, sf, tau=0.95, centroid_modulus=4
        ).collect()
    }
    hier = {
        r.vec_id: (r.centroid_id, r.kept)
        for r in similarity.semantic_dedup(
            spark, sf, tau=0.95, centroid_modulus=4, assignment="hierarchical"
        ).collect()
    }
    assert set(hier) == set(range(8))  # total: one row per vector
    assert hier == flat  # separated clusters ⇒ exact agreement


def test_oracle_bindings_pin_adaptive_geometry(monkeypatch):
    """Every oracle-bound key whose library default adapts geometry or
    modulus to corpus size must PIN the fixture shape (the DuckDB SQL
    hardcodes one geometry): on a gated corpus past the adaptive
    threshold an unpinned binding would silently diverge from its
    oracle.  Asserts both the registry wiring and the actual kwargs
    each portable wrapper forwards."""
    from hadoop_logfile_inputformat_spark.plans import registry

    assert QUERIES["ann_ivf_topk"] is similarity.ann_ivf_topk_portable
    assert (
        QUERIES["embedding_near_dup_scale"]
        is similarity.embedding_near_dup_scale_portable
    )
    assert registry.MEMBER_QUERIES["ann_pq_topk"] is similarity.ann_pq_topk_portable
    assert QUERIES["dedup_simhash"] is dedup.simhash_pairs_portable

    seen = {}
    monkeypatch.setattr(
        similarity, "ann_ivf_topk",
        lambda spark, sf_dir, **kw: seen.setdefault("ivf", kw),
    )
    monkeypatch.setattr(
        similarity, "ann_pq_topk",
        lambda spark, sf_dir, **kw: seen.setdefault("pq", kw),
    )
    monkeypatch.setattr(
        similarity, "embedding_near_dup_scale",
        lambda spark, sf_dir, **kw: seen.setdefault("lsh", kw),
    )
    monkeypatch.setattr(
        dedup, "simhash_pairs",
        lambda spark, sf_dir, **kw: seen.setdefault("simhash", kw),
    )
    similarity.ann_ivf_topk_portable(None, "d")
    similarity.ann_pq_topk_portable(None, "d")
    similarity.embedding_near_dup_scale_portable(None, "d")
    dedup.simhash_pairs_portable(None, "d")
    assert seen["ivf"] == {"centroid_modulus": similarity.IVF_CENTROID_MODULUS}
    assert seen["pq"] == {"codebook_modulus": similarity.PQ_CODEBOOK_MODULUS}
    assert seen["lsh"] == {
        "band_bits": similarity.LSH_BAND_BITS,
        "n_planes": similarity.N_HYPERPLANES,
    }
    assert seen["simhash"] == {"hash_fn": "md5", "candidate_chunks": 1}


def test_explicit_band_bits_keeps_plane_budget(spark, tmp_path):
    """An explicit ``band_bits`` with no ``n_planes`` keeps the
    historical N_HYPERPLANES plane budget (so band count =
    128/band_bits: tuning band_bits DOWN raises the band count — the
    recall direction the docstring promises).  Only the adaptive path
    ties planes to 16·band_bits."""
    from hadoop_logfile_inputformat_spark.operators import tables

    vecs = [[float(i == j) for j in range(8)] for i in range(6)]
    sf = _write_embeddings(spark, tmp_path, vecs)
    similarity.embedding_near_dup_scale(spark, sf, band_bits=4).collect()
    keys = [
        k
        for k in tables._QUERY_CACHE
        if k[0] == "hyperplane_sigs" and k[1] == sf and k[3] == 4
    ]
    assert keys and keys[0][2] == similarity.N_HYPERPLANES


def test_semantic_dedup_no_pairs_at_paper_tau_on_fixture(spark):
    """The synthetic corpus is near-random: at the paper-typical
    tau=0.95 everything survives, and every vector appears once."""
    rows = similarity.semantic_dedup(spark, SF).collect()
    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids)) and rows
    assert all(r.kept == 1 for r in rows)
    assert all(r.n_close == 0 for r in rows)


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_rare_token_profile_flags_rare_token_docs(spark, tmp_path):
    """A doc of corpus-unique gibberish must fail the frequency filter;
    docs built from shared vocabulary must pass."""
    from hadoop_logfile_inputformat_spark.operators import text as T

    common = "the cat sat on the mat and the dog ran"
    sf = _write_docs(spark, tmp_path, [
        common,
        common + " quickly",
        "zxq1 bnm2 vcx3 poi4 qwe5 rty6 uio7 asd8",  # every token df=1
    ])
    out = {
        r.doc_id: r
        for r in T.rare_token_profile(spark, sf, rare_df=1).collect()
    }
    assert out[2].n_rare == out[2].n_tokens == 8
    assert out[2].freq_keep == 0 and out[2].rare_ratio == 1.0
    # doc 0's tokens all appear in doc 1 too (df >= 2) → nothing rare
    assert out[0].n_rare == 0 and out[0].freq_keep == 1
    # 'quickly' is doc 1's only rare token
    assert out[1].n_rare == 1 and out[1].freq_keep == 1
    assert out[0].n_tokens == 10 and out[0].n_distinct == 8


def test_gopher_quality_rules(spark, tmp_path):
    """Each rule must trip on a doc crafted to violate exactly it."""
    from hadoop_logfile_inputformat_spark.operators import text as T

    good = "the quick brown fox jumps over the lazy dog in a field of corn"
    bullets = "\n".join(f"- item {i} for the list" for i in range(10))
    ellipsis = "\n".join(f"the line number {i} trails off..." for i in range(10))
    symbols = "the #tag # mess # of # hashes # and # more # tags # here"
    nostop = "colorless green ideas sleep furiously under crimson skies"
    short = "too short"
    sf = _write_docs(
        spark, tmp_path, [good, bullets, ellipsis, symbols, nostop, short]
    )
    out = {r.doc_id: r for r in T.gopher_quality(spark, sf).collect()}
    assert out[0].gopher_keep == 1 and all(
        getattr(out[0], f) == 1
        for f in ("r_words", "r_wordlen", "r_symbols", "r_bullets",
                  "r_ellipsis", "r_alpha", "r_stop")
    )
    assert out[1].r_bullets == 0 and out[1].gopher_keep == 0
    assert out[1].bullet_ratio == 1.0
    assert out[2].r_ellipsis == 0 and out[2].gopher_keep == 0
    assert out[3].r_symbols == 0 and out[3].gopher_keep == 0
    assert out[4].r_stop == 0 and out[4].n_stopwords == 0
    assert out[5].r_words == 0 and out[5].gopher_keep == 0


def test_paragraph_dedup_flags_repeated_boilerplate(spark, tmp_path):
    """A boilerplate paragraph shared by three docs: the first
    occurrence survives, later copies count as duplicate mass."""
    from hadoop_logfile_inputformat_spark.operators import text as T

    boiler = "subscribe to our newsletter for updates"
    uniq = ["the quick brown fox paragraph number %d here" % i for i in range(3)]
    sf = _write_docs(spark, tmp_path, [
        uniq[0] + "\n\n" + boiler,
        boiler + "\n\n" + uniq[1],
        uniq[2] + "\n\n" + boiler + "\n\n" + boiler,
        "short\n\nx",  # every paragraph under min_chars -> no rows
    ])
    out = {r.doc_id: r for r in T.paragraph_dedup(spark, sf).collect()}
    assert 3 not in out  # all-sub-min doc yields no row
    # doc 0 owns the boilerplate (lowest doc_id, para_idx)
    assert out[0].n_dup_paras == 0 and out[0].para_keep == 1
    assert out[1].n_dup_paras == 1 and out[1].n_paras == 2
    # doc 2 repeats it twice, both non-owner copies are dup mass
    assert out[2].n_dup_paras == 2 and out[2].n_paras == 3
    assert out[1].dup_char_ratio < 1.0 and out[1].dup_char_ratio > 0.0
    # doc 2: 2*39 dup chars of 39+39+41 -> over half -> dropped
    assert out[2].para_keep == 0


def test_substring_dedup_removes_repeated_spans(spark, tmp_path):
    """ExactSubstr semantics on crafted docs (k=4): the global first
    occurrence of a repeated k-token run survives, later occurrences
    lose the merged span; a full-duplicate doc loses everything."""
    import hashlib

    from hadoop_logfile_inputformat_spark.operators import text as T

    sf = _write_docs(spark, tmp_path, [
        "a b c d e f g h",              # owner of every shared gram
        "x1 x2 a b c d e f y1 y2",      # interior 6-token repeated run
        "a b c d e f g h",              # exact duplicate of doc 0
        "p q r s",                      # exactly one (unique) gram
        "t u v",                        # shorter than k -> no grams
    ])
    out = {r.doc_id: r for r in T.substring_dedup(spark, sf, k=4).collect()}
    assert len(out) == 5
    own = out[0]
    assert (own.n_dup_tokens, own.n_dup_spans, own.substr_keep) == (0, 0, 1)
    mid = out[1]
    # dup grams at pos 2,3,4 cover tokens 2..7: one merged 6-token span
    assert (mid.n_tokens, mid.n_dup_tokens, mid.n_dup_spans) == (10, 6, 1)
    assert mid.n_kept_tokens == 4 and mid.substr_keep == 0
    assert mid.dedup_md5 == hashlib.md5(b"x1 x2 y1 y2").hexdigest()
    full = out[2]
    assert (full.n_dup_tokens, full.n_kept_tokens) == (8, 0)
    assert full.dedup_md5 is None and full.substr_keep == 0
    assert out[3].n_dup_tokens == 0 and out[3].substr_keep == 1
    short = out[4]  # sub-k docs carry no grams but keep their text
    assert (short.n_tokens, short.n_dup_tokens, short.n_kept_tokens) == (3, 0, 3)
    assert short.dedup_md5 == hashlib.md5(b"t u v").hexdigest()


def test_bpe_merges_learns_frequency_ordered_pairs(spark, tmp_path):
    """Hand-computed BPE on a two-word vocabulary: (a,a) wins round 1
    on weighted count 6, then the count-3 ties resolve by the
    lexicographic (left, right) tie-break."""
    from hadoop_logfile_inputformat_spark.operators import text as T

    sf = _write_docs(spark, tmp_path, [
        "aaab aaab aaab",   # aaab x3
        "xy xy",            # xy x2
    ])
    rows = [tuple(r) for r in T.bpe_merges(spark, sf, n_merges=4).collect()]
    assert rows == [
        (0, "a", "a", "aa", 6),        # 2 pairs/word x 3 words
        # after merging: aaab -> [aa, a, b]; ties at 3 break on left
        (1, "a", "b", "ab", 3),
        (2, "aa", "ab", "aaab", 3),
        (3, "aaab", "</w>", "aaab</w>", 3),
    ]


def test_bpe_merges_survives_fully_merged_word(spark, tmp_path):
    """A word that collapses to ONE symbol mid-loop must contribute an
    empty pair array, not crash the next round: the old
    ``sequence(1, size(t) - 1)`` construction inferred step -1 at
    size 1 (``sequence(1, 0) == [1, 0]``), so ``element_at(t, 2)``
    threw INVALID_ARRAY_INDEX — found by the x10 scale soak, where a
    word fully merged while merges remained.  The loop must keep
    learning from the still-mergeable words, then stop at fixpoint."""
    from hadoop_logfile_inputformat_spark.operators import text as T

    sf = _write_docs(spark, tmp_path, ["aaab aaab aaab", "xy xy"])
    rows = [tuple(r) for r in T.bpe_merges(spark, sf, n_merges=8).collect()]
    # rounds 0-3 as in the frequency-order test; "aaab</w>" is then a
    # single symbol and rounds 4-5 continue on the xy word alone
    assert rows[4] == (4, "x", "y", "xy", 2)
    assert rows[5] == (5, "xy", "</w>", "xy</w>", 2)
    # round 6 finds no pair anywhere (both words fully merged): stop
    assert len(rows) == 6


def test_bpe_merges_vocab_is_one_partition_at_fixture_scale(spark):
    """The merge loop's persisted vocabulary is sized from the corpus'
    on-disk bytes: a fixture corpus (far under 64 MB per partition)
    gets ONE partition, not the default parallelism.  A broad
    ``except`` around the size probe once hid a NameError there and
    silently fell back to the wide default."""
    from hadoop_logfile_inputformat_spark.operators import tables
    from hadoop_logfile_inputformat_spark.operators import text as T

    T.bpe_merges(spark, SF, n_merges=1).collect()
    assert tables._QUERY_CACHE["bpe_vocab"].rdd.getNumPartitions() == 1


def test_bpe_tokenize_applies_learned_merges(spark, tmp_path):
    """Train-then-apply round trip: fully-merged words collapse to one
    subword; uncovered words stay at char+</w> granularity."""
    from hadoop_logfile_inputformat_spark.operators import text as T

    sf = _write_docs(spark, tmp_path, ["aaab aaab aaab", "xy xy"])
    merges = T.bpe_merges(spark, sf, n_merges=4)
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in T.bpe_tokenize(docs, merges).collect()}
    # all four merges chain: aaab -> aaab</w>, one subword per word
    assert (out[0].n_words, out[0].n_subwords) == (3, 3)
    assert out[0].subwords_per_word == 1.0
    # xy untouched by the learned merges: x, y, </w> per word
    assert (out[1].n_words, out[1].n_subwords) == (2, 6)
    assert out[1].subwords_per_word == 3.0


def test_corpus_report_totals_are_consistent(spark):
    """Data-card invariants: per-slice totals sum to corpus totals,
    keep counts never exceed doc counts."""
    from hadoop_logfile_inputformat_spark.operators.pipeline import corpus_report
    from hadoop_logfile_inputformat_spark.operators.tables import load

    sf = "/root/testdata/sf0.001"
    rows = corpus_report(spark, sf).collect()
    assert rows
    n_docs = load(spark, sf, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.n_quality_keep <= r.n_docs
        assert 0 <= r.n_gopher_keep <= r.n_docs
        assert 0 < r.n_exact_unique <= r.n_docs
        assert r.total_chars > 0 and r.total_tokens > 0


def test_write_corpus_publishes_partitioned_layout_with_manifest(spark, tmp_path):
    """Corpus publication: hive layout per split, file row counts
    bounded, and the manifest verifies against a fresh re-count."""
    from hadoop_logfile_inputformat_spark.operators import sinks

    rows = [(i, "train" if i % 10 < 8 else "val", f"doc {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    out = str(tmp_path / "corpus")
    manifest = sinks.write_corpus(
        df, out, partition_by=("split",), max_records_per_file=50
    )
    m = {r.split: r.n_rows for r in manifest.collect()}
    assert m == {"train": 160, "val": 40}
    # hive layout + bounded files: train has 160 rows / cap 50 -> >= 4 files
    import glob
    train_files = glob.glob(out + "/split=train/*.parquet")
    assert len(train_files) >= 4
    assert glob.glob(out + "/split=val/*.parquet")
    # _manifest dir is invisible to the data read (underscore convention)
    assert spark.read.parquet(out).count() == 200
    chk = sinks.verify_manifest(spark, out)
    assert all(r.ok for r in chk.collect())
    # a tampered partition is caught
    import os
    os.remove(train_files[0])
    bad = {r.split: r.ok for r in sinks.verify_manifest(spark, out).collect()}
    assert bad["val"] and not bad["train"]


def test_curation_matrix_flags_are_consistent(spark):
    """The gate matrix must be total over the corpus, each flag 0/1,
    and final_keep exactly the conjunction of the gates."""
    from hadoop_logfile_inputformat_spark.operators.pipeline import curation_matrix

    rows = curation_matrix(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) == n_docs
    gates = ["quality_keep", "gopher_keep", "freq_keep", "para_keep",
             "substr_keep", "exact_keep"]
    for r in rows:
        vals = [r[g] for g in gates]
        assert all(v in (0, 1) for v in vals)
        assert r.final_keep == min(vals)
    assert any(r.final_keep == 0 for r in rows)  # gates actually bite
    assert any(r.final_keep == 1 for r in rows)


def test_ivf_index_probe_matches_inline_search(spark, tmp_path):
    """The persisted IVF index must return exactly what the inline
    build-per-query operator returns, and its probe must read the
    inverted lists through their bucketing (no corpus-side Exchange)
    under the forced sort-merge shape."""
    from hadoop_logfile_inputformat_spark.operators.tables import load

    for t in ("t_ivf_lists", "t_ivf_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    vectors = load(spark, SF, "embeddings").select("vec_id", "embedding")
    similarity.build_ivf_index(
        spark, vectors, "t_ivf", n_buckets=4, path=str(tmp_path / "ivf")
    )
    queries = vectors.filter(
        F.col("vec_id") % similarity.QUERY_MODULUS == 0
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    try:
        probe = {
            tuple(r)
            for r in similarity.ann_ivf_probe(spark, queries, "t_ivf").collect()
        }
        inline = {
            tuple(r) for r in similarity.ann_ivf_topk(spark, SF).collect()
        }
        assert probe == inline and probe
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = similarity.ann_ivf_probe(spark, queries, "t_ivf")
            plan = df._jdf.queryExecution().executedPlan().toString()
            scans = [
                line for line in plan.splitlines()
                if "FileScan" in line and "t_ivf_lists" in line
            ]
            assert scans, plan
            for line in scans:
                assert "Bucketed: true" in line, line
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    finally:
        for t in ("t_ivf_lists", "t_ivf_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_filtered_topk_prefilter_semantics(spark):
    """Every neighbor satisfies the filter and every query still gets
    its full k (pre-filter ranks WITHIN the subset — a post-filter
    would starve); values themselves are DuckDB-gated via the
    `filtered` pack member."""
    from hadoop_logfile_inputformat_spark.operators.tables import load

    out = similarity.ann_filtered_topk(spark, SF)
    labels = load(spark, SF, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), "label"
    )
    rows = out.join(labels, "neighbor_id").collect()
    assert rows
    assert all(r["label"] == similarity.FILTER_LABEL for r in rows)
    per_q = {r["query_id"] for r in rows}
    counts = out.groupBy("query_id").count().collect()
    assert {r["query_id"] for r in counts} == per_q
    assert all(r["count"] == similarity.TOP_K for r in counts)


def test_ivf_member_filter_equals_filtered_subindex(spark):
    """member_filter pre-filters list rows BEFORE ranking: probing the
    full carry-built index under `label = 7` must equal probing an
    index built from ONLY the label-7 vectors with the same frozen
    centroids — and the predicate must reach the lists scan as a
    pushed parquet filter with the bucketing intact.  Carried metadata
    must also survive appends (schema-recovered) and retrains."""
    from hadoop_logfile_inputformat_spark.operators.tables import load

    emb = load(spark, SF, "embeddings").select("vec_id", "embedding", "label")
    is_delta = F.col("vec_id") % similarity.INCR_SPLIT_MOD == similarity.INCR_DELTA_REM
    seed, delta = emb.filter(~is_delta), emb.filter(is_delta)
    queries = emb.filter(
        F.col("vec_id") % similarity.QUERY_MODULUS == 0
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    flt = F.col("label") == similarity.FILTER_LABEL
    tables = [f"tf_all{s}" for s in
              ("_lists", "_centroids", "_batches", "_stats")] + [
              f"tf_sub{s}" for s in
              ("_lists", "_centroids", "_batches", "_stats")]
    try:
        similarity.build_ivf_index(
            spark, seed, "tf_all", n_buckets=4, carry=("label",)
        )
        # append picks the carry set up from the table schema
        assert similarity.append_to_ivf_index(spark, delta, "tf_all", batch_id=1)
        assert "label" in spark.table("tf_all_lists").columns
        cents = spark.table("tf_all_centroids").select("centroid_id", "c_emb")
        similarity.build_ivf_index(
            spark, emb.filter(flt), "tf_sub", n_buckets=4, centroids=cents
        )
        a = sorted(tuple(r) for r in similarity.ann_ivf_probe(
            spark, queries, "tf_all", member_filter=flt).collect())
        b = sorted(tuple(r) for r in similarity.ann_ivf_probe(
            spark, queries, "tf_sub").collect())
        assert a == b and a
        # plan: pushed label filter + bucketed lists scan
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                similarity.ann_ivf_probe(
                    spark, queries, "tf_all", member_filter=flt
                )._jdf.queryExecution().executedPlan().toString()
            )
            scans = [l for l in plan.splitlines()
                     if "FileScan" in l and "tf_all_lists" in l]
            assert scans, plan
            for line in scans:
                assert "Bucketed: true" in line, line
                assert f"EqualTo(label,{similarity.FILTER_LABEL})" in line, line
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        # retrain keeps the carry column (snapshot includes it)
        similarity.retrain_ivf_index(spark, "tf_all", iters=1, n_centroids=4)
        assert "label" in spark.table("tf_all_lists").columns
        post = similarity.ann_ivf_probe(
            spark, queries, "tf_all", member_filter=flt
        ).collect()
        assert post and all(
            r["rank"] <= similarity.TOP_K for r in post
        )
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_family_member_filter_equals_filtered_subindex(spark):
    """member_filter on the PQ-tier probes (flat PQ and IVFADC):
    because encoding is a pure argmin with per-vector scales, probing
    the full carry-built index under the filter must be BIT-equal to
    probing an index built from only the filtered vectors with the
    same frozen codebooks (+ centroids for IVFPQ) — appends included
    (carry recovered from the codes schema).  The predicate reaches
    the bucketed codes scan pushed."""
    from hadoop_logfile_inputformat_spark.operators.tables import load

    emb = load(spark, SF, "embeddings").select("vec_id", "embedding", "label")
    is_delta = (
        F.col("vec_id") % similarity.INCR_SPLIT_MOD == similarity.INCR_DELTA_REM
    )
    seed, delta = emb.filter(~is_delta), emb.filter(is_delta)
    flt = F.col("label") == similarity.FILTER_LABEL
    queries = emb.filter(
        F.col("vec_id") % similarity.QUERY_MODULUS == 0
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    sfx = ("_codes", "_quantized", "_centroids", "_codebooks",
           "_batches", "_stats", "_qstats")
    names = ["tfq_all", "tfq_sub", "tfv_all", "tfv_sub"]
    try:
        # flat PQ: modulus codebooks from the seed build, reused by the
        # filtered sub-index so both encode identically
        similarity.build_pq_index(spark, seed, "tfq_all", carry=("label",))
        assert similarity.append_to_pq_index(spark, delta, "tfq_all", batch_id=1)
        assert "label" in spark.table("tfq_all_codes").columns
        cb = spark.table("tfq_all_codebooks")
        similarity.build_pq_index(
            spark, emb.filter(flt), "tfq_sub", codebooks=cb
        )
        a = sorted(tuple(r) for r in similarity.ann_pq_probe(
            spark, queries, "tfq_all", member_filter=flt).collect())
        b = sorted(tuple(r) for r in similarity.ann_pq_probe(
            spark, queries, "tfq_sub").collect())
        assert a == b and a
        # IVFADC: shared frozen centroids + codebooks
        qseed = similarity.quantize_frame(seed.select("vec_id", "embedding"))
        cents = similarity.kmeans_centroids(
            qseed.select("vec_id", F.col("q").alias("embedding")),
            k=4, iters=2, metric="cosine",
        )
        cb2 = similarity.pq_codebooks_kmeans(qseed, n_entries=4, iters=2)
        similarity.build_ivfpq_index(
            spark, seed, "tfv_all", centroids=cents, codebooks=cb2,
            carry=("label",),
        )
        assert similarity.append_to_ivfpq_index(
            spark, delta, "tfv_all", batch_id=1
        )
        assert "label" in spark.table("tfv_all_codes").columns
        similarity.build_ivfpq_index(
            spark, emb.filter(flt), "tfv_sub", centroids=cents, codebooks=cb2
        )
        a2 = sorted(tuple(r) for r in similarity.ann_ivfpq_probe(
            spark, queries, "tfv_all", member_filter=flt).collect())
        b2 = sorted(tuple(r) for r in similarity.ann_ivfpq_probe(
            spark, queries, "tfv_sub").collect())
        assert a2 == b2 and a2
        # pushed predicate + bucketing intact on the codes scan
        plan = (
            similarity.ann_ivfpq_probe(
                spark, queries, "tfv_all", member_filter=flt
            )._jdf.queryExecution().executedPlan().toString()
        )
        scans = [l for l in plan.splitlines()
                 if "FileScan" in l and "tfv_all_codes" in l]
        assert scans, plan
        for line in scans:
            assert f"EqualTo(label,{similarity.FILTER_LABEL})" in line, line
            assert "Bucketed: true" in line, line
        # retrain keeps the carry column on the PQ family too
        similarity.retrain_ivfpq_index(
            spark, "tfv_all", iters=1, n_centroids=4, n_entries=4
        )
        assert "label" in spark.table("tfv_all_codes").columns
        assert "label" in spark.table("tfv_all_quantized").columns
        post = similarity.ann_ivfpq_probe(
            spark, queries, "tfv_all", member_filter=flt
        ).limit(5).collect()
        assert post
    finally:
        for n in names:
            for s in sfx:
                spark.sql(f"DROP TABLE IF EXISTS {n}{s}")


def test_pq_index_probe_matches_inline_search(spark, tmp_path):
    """The persisted PQ index (codes + quantized + codebooks) must
    return exactly what the inline build-per-query operator returns
    for the same query set."""
    from hadoop_logfile_inputformat_spark.operators.tables import load

    for t in ("t_pq_codes", "t_pq_quantized", "t_pq_codebooks",
              "t_pq_batches", "t_pq_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    vectors = load(spark, SF, "embeddings").select("vec_id", "embedding")
    similarity.build_pq_index(
        spark, vectors, "t_pq", n_buckets=4, path=str(tmp_path / "pq")
    )
    queries = vectors.filter(
        F.col("vec_id") % similarity.QUERY_MODULUS == 0
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    try:
        probe = {
            tuple(r)
            for r in similarity.ann_pq_probe(spark, queries, "t_pq").collect()
        }
        inline = {
            tuple(r) for r in similarity.ann_pq_topk(spark, SF).collect()
        }
        assert probe == inline and probe
    finally:
        for t in ("t_pq_codes", "t_pq_quantized", "t_pq_codebooks",
              "t_pq_batches", "t_pq_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_index_over_learned_codebooks_matches_inline(spark, tmp_path):
    """build_pq_index(codebooks=...) — the learned-codebook persisted
    lifecycle: probing the index must return exactly what the inline
    learned-codebook search returns for the same query set (the same
    build-once/probe-forever equivalence the modulus family pins)."""
    from hadoop_logfile_inputformat_spark.operators.tables import load

    for t in ("t_pqk_codes", "t_pqk_quantized", "t_pqk_codebooks"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    vectors = load(spark, SF, "embeddings").select("vec_id", "embedding")
    v = similarity.quantize_frame(vectors)
    cb = similarity.pq_codebooks_kmeans(v, n_entries=8, iters=2)
    similarity.build_pq_index(
        spark, vectors, "t_pqk", n_buckets=4,
        path=str(tmp_path / "pqk"), codebooks=cb,
    )
    queries = vectors.filter(
        F.col("vec_id") % similarity.QUERY_MODULUS == 0
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    try:
        probe = {
            tuple(r)
            for r in similarity.ann_pq_probe(spark, queries, "t_pqk").collect()
        }
        inline = {
            tuple(r)
            for r in similarity._pq_adc_search(
                v, cb, v.filter(F.col("vec_id") % similarity.QUERY_MODULUS == 0)
            ).collect()
        }
        assert probe == inline and probe
    finally:
        for t in ("t_pqk_codes", "t_pqk_quantized", "t_pqk_codebooks"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivfpq_full_coverage_equals_exact(spark, tmp_path):
    """Composite IVF-PQ degenerates to the EXACT quantized ranking when
    every list is probed and the re-rank covers the corpus: coarse
    routing is complete (no vector lost between lists), the residual-
    ADC join scores every (query, member) pair, and the exact re-rank
    then reproduces ann_cosine_topk_quantized bit-for-bit — same sims,
    same tie-breaks.  Pins the whole index lifecycle (build → probe →
    rerank) against the one available ground truth."""
    from hadoop_logfile_inputformat_spark.operators.tables import load

    vectors = load(spark, SF, "embeddings").select("vec_id", "embedding")
    n = vectors.count()
    similarity.build_ivfpq_index(
        spark, vectors, "t_ivfpq_full", n_centroids=4, n_entries=8,
        iters=2, n_buckets=4, path=str(tmp_path / "ivfpq"),
    )
    queries = vectors.filter(
        F.col("vec_id") % similarity.QUERY_MODULUS == 0
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    try:
        full = {
            tuple(r)
            for r in similarity.ann_ivfpq_probe(
                spark, queries, "t_ivfpq_full", nprobe=4, rerank=n
            ).collect()
        }
        exact = {
            tuple(r)
            for r in similarity.ann_cosine_topk_quantized(spark, SF).collect()
        }
        assert full == exact and full
        # the probe must read the codes through their centroid_id
        # bucketing (no index-side Exchange) under forced sort-merge
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = similarity.ann_ivfpq_probe(spark, queries, "t_ivfpq_full")
            plan = df._jdf.queryExecution().executedPlan().toString()
            scans = [
                line for line in plan.splitlines()
                if "FileScan" in line and "t_ivfpq_full_codes" in line
            ]
            assert scans, plan
            for line in scans:
                assert "Bucketed: true" in line, line
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    finally:
        for s in ("_codes", "_quantized", "_centroids", "_codebooks"):
            spark.sql(f"DROP TABLE IF EXISTS t_ivfpq_full{s}")


def test_ivfpq_residual_recall_vs_flat_pq(spark):
    """The reason IVF-PQ encodes residuals: after coarse routing the M
    codes only explain within-cell displacement, so at the SAME
    per-subspace entry budget the composite's shortlist is higher-
    fidelity than flat PQ's whole-corpus ADC.  Judged on brute-force
    ground truth over the re-rank space (quantized vectors) on a
    DISJOINT query set (vec_id%50==7 — never a centroid exemplar);
    measured 0.78 vs flat 0.72 at this geometry, and the default
    nprobe=3 (3 of 20 lists) still clears an absolute floor."""
    import numpy as np

    sf = "/root/testdata/sf0.01"
    v = similarity.quantized_vectors(spark, sf)
    rows = v.select("vec_id", "q").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    Q = np.array([r.q for r in rows], dtype=float)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    S = Qn @ Qn.T
    idx = {int(x): i for i, x in enumerate(ids)}
    truth = {}
    for q in (int(i) for i in ids[ids % 50 == 7]):
        srow = S[idx[q]].copy()
        srow[idx[q]] = -9.0
        truth[q] = {int(ids[j]) for j in np.argsort(-srow)[:5]}

    def _recall(hits):
        got = {}
        for r in hits.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got.get(q, set()) & truth[q]) for q in truth) / (
            5 * len(truth)
        )

    n = len(rows)
    n_entries = max(2, n // similarity._effective_modulus(
        n, similarity.PQ_CODEBOOK_MODULUS
    ))
    n_cent = max(2, n // similarity._effective_modulus(n))
    queries = v.filter(F.col("vec_id") % 50 == 7)
    cb_flat = similarity.pq_codebooks_kmeans(v, n_entries=n_entries, iters=3)
    r_flat = _recall(similarity._pq_adc_search(v, cb_flat, queries))

    vraw = similarity._vectors(spark, sf)
    qraw = vraw.filter(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for s in ("_codes", "_quantized", "_centroids", "_codebooks"):
        spark.sql(f"DROP TABLE IF EXISTS t_ivfpq_res{s}")
    try:
        similarity.build_ivfpq_index(
            spark, vraw.select("vec_id", "embedding"), "t_ivfpq_res",
            n_centroids=n_cent, n_entries=n_entries, iters=3,
        )
        r_full = _recall(similarity.ann_ivfpq_probe(
            spark, qraw, "t_ivfpq_res", nprobe=n_cent
        ))
        r_def = _recall(similarity.ann_ivfpq_probe(
            spark, qraw, "t_ivfpq_res", nprobe=3
        ))
    finally:
        for s in ("_codes", "_quantized", "_centroids", "_codebooks"):
            spark.sql(f"DROP TABLE IF EXISTS t_ivfpq_res{s}")
    # residual codes must not lose to flat codes at the same budget
    # once coverage is equal (full nprobe), and both tiers clear floors
    assert r_full >= r_flat, (r_full, r_flat)
    assert r_full >= 0.5, r_full
    assert r_def >= 0.35, r_def


def test_ann_ivfpq_topk_contract_and_hygiene(spark):
    """The bench-facing composite lifecycle op: schema/rank contract, a
    recall floor vs the exact twin, and the ann_ivf_topk_kmeans
    warehouse-hygiene contract — no driver collect of the result set on
    any path, invocation-unique ephemeral tables dropped before
    returning with the result materialized DISTRIBUTED, explicit names
    kept for ann_ivfpq_probe reuse."""
    import inspect

    assert ".collect()" not in inspect.getsource(similarity.ann_ivfpq_topk)
    before = {t.name for t in spark.catalog.listTables()}
    out = similarity.ann_ivfpq_topk(
        spark, SF, n_centroids=4, n_entries=8, iters=1
    )
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan
    rows = out.collect()
    assert rows and all(1 <= r.rank <= 5 for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(x) == list(range(1, len(x) + 1)) for x in per_q.values())
    assert {t.name for t in spark.catalog.listTables()} == before
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(spark, SF).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(approx & exact) / len(exact) >= 0.3
    try:
        kept = similarity.ann_ivfpq_topk(
            spark, SF, n_centroids=4, n_entries=8, iters=1, name="ivfpqh"
        )
        n1 = kept.count()
        assert n1 == len(rows)
        tabs = {t.name for t in spark.catalog.listTables()}
        assert {
            "ivfpqh_codes", "ivfpqh_quantized",
            "ivfpqh_centroids", "ivfpqh_codebooks",
        } <= tabs
        # the kept index serves fresh probes
        q = similarity._vectors(spark, SF).filter(
            F.col("vec_id") % similarity.QUERY_MODULUS == 0
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        assert similarity.ann_ivfpq_probe(spark, q, "ivfpqh").count() == n1
    finally:
        for s in ("_codes", "_quantized", "_centroids", "_codebooks"):
            spark.sql(f"DROP TABLE IF EXISTS ivfpqh{s}")


def test_kmeans_centroids_separate_clusters(spark, tmp_path):
    """Two tight clusters: learned centroids land on the cluster means
    and an IVF index built over them routes probes within-cluster."""
    rows = []
    for i in range(10):
        rows.append((i, [10.0 + 0.1 * i, 0.0, 0.0, 0.0]))
        rows.append((100 + i, [0.0, 10.0 + 0.1 * i, 0.0, 0.0]))
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = {
        r.centroid_id: r.c_emb
        for r in similarity.kmeans_centroids(vectors, k=2, iters=4).collect()
    }
    assert len(cents) == 2
    # one centroid per cluster, at the cluster mean (10.45 on its axis)
    axes = sorted(
        (max(range(4), key=lambda d: c[d]), max(c)) for c in cents.values()
    )
    assert [a for a, _ in axes] == [0, 1]
    for _, peak in axes:
        assert abs(peak - 10.45) < 1e-9
    for t in ("t_km_lists", "t_km_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    similarity.build_ivf_index(
        spark, vectors, "t_km", n_buckets=2, path=str(tmp_path / "km"),
        centroids=similarity.kmeans_centroids(vectors, k=2, iters=4),
    )
    try:
        queries = spark.createDataFrame(
            [(0, [11.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
        )
        hits = similarity.ann_ivf_probe(spark, queries, "t_km", k=3, nprobe=1)
        got = {r.neighbor_id for r in hits.collect()}
        assert got and all(n < 100 for n in got)  # stays in cluster A
    finally:
        for t in ("t_km_lists", "t_km_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_kmeans_cosine_tolerates_a_zero_vector(spark):
    """Spherical k-means trains on dot / (|c| + 1e-12): a zero vector
    ties at 0 against every centroid and joins the lowest centroid_id
    instead of failing the iteration on a division by zero.  Here the
    [0, 1] vectors (ids 3, 6, 9) form centroid 1; the [1, 1] and [2, 1]
    vectors plus the zero vector average to centroid 0."""
    rows = [(i, [float(i % 3), 1.0] if i else [0.0, 0.0]) for i in range(10)]
    vectors = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = sorted(
        tuple(r)
        for r in similarity.kmeans_centroids(
            vectors, k=2, iters=2, metric="cosine"
        ).collect()
    )
    assert cents == [(0, [9 / 7, 6 / 7]), (1, [0.0, 1.0])]


def test_operators_total_on_empty_tables(spark, tmp_path):
    """Every operator with driver-side logic (dimension probes, collect
    guards, fixpoint loops, learned models) must return an empty frame
    on empty inputs, not crash — at scale an empty partition or date
    slice is routine input."""
    from hadoop_logfile_inputformat_spark.operators import pipeline, text

    base = str(tmp_path)
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(base + "/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(base + "/embeddings.parquet")
    ops = [
        dedup.minhash_lsh_pairs,
        dedup.simhash_pairs,
        dedup.near_dup_groups,
        similarity.embedding_near_dup_scale,
        similarity.cosine_topk_arrow,
        similarity.ann_pq_topk,
        similarity.ann_ivf_topk,
        similarity.semantic_dedup,
        text.bpe_merges,
        text.substring_dedup,
        text.stratified_sample,
        text.top_terms_per_source,
        pipeline.training_corpus,
        pipeline.curation_matrix,
    ]
    from hadoop_logfile_inputformat_spark.operators import splits
    from hadoop_logfile_inputformat_spark.operators.similarity import embedding_stats
    from hadoop_logfile_inputformat_spark.operators.snapshot import (
        corpus_snapshot_diff,
    )

    ops += [splits.shard_corpus, embedding_stats, corpus_snapshot_diff]
    for fn in ops:
        assert fn(spark, base).count() == 0, fn.__name__


def test_shard_corpus_is_total_dense_and_stable(spark):
    """Every document lands in exactly one shard; positions are dense
    0..n-1 within each shard; assignment is identical across
    invocations (no seed/session state)."""
    from hadoop_logfile_inputformat_spark.operators import splits

    out = splits.shard_corpus(spark, SF)
    n_docs = spark.read.parquet(SF + "/documents.parquet").count()
    rows = out.collect()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    by_shard = {}
    for r in rows:
        assert 0 <= r.shard < splits.N_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    again = {(r.doc_id, r.shard, r.pos) for r in splits.shard_corpus(spark, SF).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}


def test_embedding_stats_totals_and_sanity(spark):
    """Label counts sum to the corpus; the synthetic embeddings are
    64-dim, finite, non-zero — so dims pin at 64 and n_degenerate=0."""
    from hadoop_logfile_inputformat_spark.operators.similarity import embedding_stats

    rows = embedding_stats(spark, SF).collect()
    n_vecs = spark.read.parquet(SF + "/embeddings.parquet").count()
    assert sum(r.n_vecs for r in rows) == n_vecs
    for r in rows:
        assert r.min_dim == r.max_dim == 64
        assert 0 < r.min_norm <= r.max_norm
        assert r.n_degenerate == 0


def test_embedding_stats_flags_degenerate_vectors(spark, tmp_path):
    """NaN components and ~zero norms are exactly what the QA gate
    exists to catch — construct both and assert they are counted."""
    from hadoop_logfile_inputformat_spark.operators.similarity import embedding_stats

    base = str(tmp_path)
    rows = [
        (1, [1.0, 2.0], 0),
        (2, [float("nan"), 1.0], 0),
        (3, [0.0, 0.0], 0),
        (4, [3.0, 4.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(base + "/embeddings.parquet")
    got = {r.label: r for r in embedding_stats(spark, base).collect()}
    assert got[0].n_vecs == 3 and got[0].n_degenerate == 2
    assert got[1].n_vecs == 1 and got[1].n_degenerate == 0
    assert got[1].min_norm == 5.0


def test_top_terms_per_source_ranks_are_dense_topk(spark):
    """k rows per source with dense ranks 1..k, ordered by the
    (tf desc, src_df asc, token asc) total order."""
    from hadoop_logfile_inputformat_spark.operators.text import top_terms_per_source

    rows = top_terms_per_source(spark, SF, k=5).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        keys = [(-r.tf, r.src_df, r.token) for r in rs]
        assert keys == sorted(keys)


def test_retention_cohorts_invariants(spark):
    """Offset 0 is full retention by construction (every user is active
    in their own cohort week); actives never exceed the cohort size;
    offsets are non-negative."""
    rows = relational_ext.q_user_retention_cohorts(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.week_offset >= 0
        assert 0 < r.n_active <= r.n_cohort
        if r.week_offset == 0:
            assert r.n_active == r.n_cohort and r.retention == 1.0


def test_snapshot_diff_statuses_and_counts(spark):
    """All four statuses appear on the fixture-derived snapshots and
    their counts match the modular construction exactly."""
    from hadoop_logfile_inputformat_spark.operators.snapshot import (
        corpus_snapshot_diff,
    )

    rows = corpus_snapshot_diff(spark, SF).collect()
    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(SF + "/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    assert len(rows) == len(doc_ids)
    got = {}
    for r in rows:
        got[r.status] = got.get(r.status, 0) + 1
        if r.status == "added":
            assert r.old_md5 is None and r.new_md5 is not None
        elif r.status == "removed":
            assert r.new_md5 is None and r.old_md5 is not None
        elif r.status == "changed":
            assert r.old_md5 != r.new_md5
        else:
            assert r.old_md5 == r.new_md5
    exp_added = sum(1 for d in doc_ids if d % 97 == 3 and d % 93 != 5)
    exp_removed = sum(1 for d in doc_ids if d % 93 == 5 and d % 97 != 3)
    exp_changed = sum(
        1 for d in doc_ids if d % 89 == 0 and d % 97 != 3 and d % 93 != 5
    )
    assert got.get("added", 0) == exp_added
    assert got.get("removed", 0) == exp_removed
    # the "X|"-prefixed synthetic text can never equal the original
    assert got.get("changed", 0) == exp_changed
    assert got.get("unchanged", 0) == len(doc_ids) - exp_added - exp_removed - exp_changed


def test_snapshot_diff_null_content_uses_presence_not_digest(spark):
    """md5(NULL) is NULL; status must come from key presence, not digest
    NULL-ness: a doc with NULL text in both snapshots is 'unchanged',
    NULL -> text is 'changed', and a NULL-text doc only in new is
    'added' (code-review finding, confirmed by probe)."""
    from hadoop_logfile_inputformat_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "hello"), (3, "bye")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, None), (4, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_embedding_stats_counts_null_vectors_as_degenerate(spark, tmp_path):
    """A NULL embedding (or a NULL component) is the broken-encoder
    output the QA gate exists to catch — it must count as degenerate
    instead of vanishing into NULL-skipping aggregates (code-review
    finding, confirmed by probe)."""
    from hadoop_logfile_inputformat_spark.operators.similarity import embedding_stats

    base = str(tmp_path)
    spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, None, 0), (3, [1.0, None], 0)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(base + "/embeddings.parquet")
    r = embedding_stats(spark, base).collect()[0]
    assert r.n_vecs == 3
    assert r.n_degenerate == 2
    assert r.min_dim == 2  # NULL vector contributes no dim signal
    # the NULL-component vector's norm must not reach min/max: Spark's
    # fold propagates NULL where DuckDB's list_sum skips it, so both
    # engines null it behind the same is_bad predicate
    assert abs(r.min_norm - 5.0**0.5) < 1e-12
    assert abs(r.max_norm - 5.0**0.5) < 1e-12
    # replay the registry oracle on the same parquet: the full frame
    # must match value-for-value even WITH degenerate rows present
    import duckdb

    from hadoop_logfile_inputformat_spark.plans.registry import _SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{base}/embeddings.parquet/*.parquet')"
    )
    odf = con.execute(_SQL["embedding_stats"]).fetchdf()
    orow = odf.iloc[0]
    assert int(orow["n_vecs"]) == r.n_vecs
    assert int(orow["n_degenerate"]) == r.n_degenerate
    assert abs(float(orow["min_norm"]) - r.min_norm) < 1e-12
    assert abs(float(orow["max_norm"]) - r.max_norm) < 1e-12


def test_compression_profile_separates_repetition_and_is_deterministic(spark):
    """The zlib ratio must rank repetitive text far below diverse text
    (the property the filter exists for), be total over the corpus, and
    reproduce byte-identically across invocations (no SQL oracle exists
    for zlib, so determinism is asserted here instead)."""
    from hadoop_logfile_inputformat_spark.operators.text import compression_profile

    rows = compression_profile(spark, SF).collect()
    n_docs = spark.read.parquet(SF + "/documents.parquet").count()
    assert len(rows) == n_docs
    again = {(r.doc_id, r.n_compressed, r.compress_ratio)
             for r in compression_profile(spark, SF).collect()}
    assert again == {(r.doc_id, r.n_compressed, r.compress_ratio) for r in rows}
    for r in rows:
        assert 0 < r.n_compressed
        assert 0.0 < r.compress_ratio < 2.0


def test_compression_profile_flags_constructed_repetition(spark, tmp_path):
    import random

    from hadoop_logfile_inputformat_spark.operators.text import compression_profile

    rng = random.Random(7)
    diverse = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(200)
    )
    repetitive = "spam ham " * 800
    base = str(tmp_path)
    spark.createDataFrame(
        [(1, repetitive, "en", "s", len(repetitive)),
         (2, diverse, "en", "s", len(diverse)),
         (3, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(base + "/documents.parquet")
    got = {r.doc_id: r for r in compression_profile(spark, base).collect()}
    assert got[1].compress_ratio < 0.1 and got[1].highly_compressible == 1
    assert got[2].compress_ratio > 0.5 and got[2].highly_compressible == 0
    assert got[3].n_bytes == 0 and got[3].highly_compressible == 0


def test_load_memo_reuses_plan_and_invalidates_on_rewrite(spark, tmp_path):
    """``load`` memoizes the constructed DataFrame per (session, path,
    fanout mode, fanout decision, content signature) — r17, guide §4:
    the py4j control plane is a per-call Python boundary; ~13
    round-trips of reader/schema construction per table per build were
    the residual after r16's SQL rewrites.  The memo must (a) hand back
    the SAME object for identical calls (plans trivially sameResult),
    (b) key the fanout MODE separately, and (c) miss when the table is
    rewritten in place (the os-level signature — the r16 ADVICE
    staleness hazard for _SCHEMA_CACHE, fixed by the same key)."""
    from hadoop_logfile_inputformat_spark.operators import tables as T

    a = T.load(spark, SF, "lineitem")
    assert T.load(spark, SF, "lineitem") is a
    wide = T.load(spark, SF, "lineitem", fanout="wide:l_extendedprice")
    assert wide is not a
    assert T.load(spark, SF, "lineitem", fanout="wide:l_extendedprice") is wide
    # in-place rewrite: new signature -> fresh frame, fresh schema, and
    # the row count follows the NEW data (no stale file listing)
    base = str(tmp_path)
    spark.range(5).selectExpr("id AS doc_id").write.parquet(
        base + "/documents.parquet"
    )
    x1 = T.load(spark, base, "documents", fanout=False)
    assert x1.count() == 5
    import shutil

    shutil.rmtree(base + "/documents.parquet")
    spark.range(9).selectExpr("id AS doc_id", "'t' AS text").write.parquet(
        base + "/documents.parquet"
    )
    x2 = T.load(spark, base, "documents", fanout=False)
    assert x2 is not x1
    assert x2.count() == 9 and "text" in x2.columns
    # a full cache clear drops the memo
    T.clear_query_caches()
    assert not T._DF_MEMO


def test_wide_fanout_hashes_named_column_and_keeps_values(spark):
    """``load(..., fanout="wide:<col>")`` (r16) must fan the scan out
    through an ``Exchange hashpartitioning(<col>)`` — not round-robin
    (whose sortBeforeRepartition pass costs a full local row sort) and
    not a nondeterministic-id hash (which blocks filter pushdown into
    the scan) — while leaving aggregate values identical to the
    un-fanned scan.  The fan-out itself stays behind ``_needs_fanout``:
    when the estimated scan parallelism is already wide (the 100 TB
    multi-split case, simulated by shrinking maxPartitionBytes), NO
    exchange may be added."""
    from hadoop_logfile_inputformat_spark.operators import tables as T

    agg = lambda df: sorted(  # noqa: E731
        (r.l_returnflag, r.n, float(r.s))
        for r in df.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("s"))
        .collect()
    )
    wide = T.load(spark, SF, "lineitem", fanout="wide:l_extendedprice")
    plain = T.load(spark, SF, "lineitem", fanout=False)
    assert agg(wide) == agg(plain)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(l_extendedprice" in plan
    assert "roundrobin" not in plan.lower()
    # scale guard: wide scans get no exchange at all
    prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    T._FANOUT_CACHE.clear()
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
        at_scale = T.load(spark, SF, "lineitem", fanout="wide:l_extendedprice")
        assert "Exchange" not in (
            at_scale._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
        T._FANOUT_CACHE.clear()
