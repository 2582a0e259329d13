"""Contract regressions for the round-1 ADVICE/VERDICT findings:

- entry_id falsy parity: idMember == 0 hashes like NULL (the reference's
  `str(rec.get("idMember") or "")`), pinned against a Python mirror.
- salted_join rejects right/full joins (replicated side would fabricate
  null-extended duplicates for unmatched keys).
- connected_components raises instead of silently returning split
  clusters when a component's diameter exceeds max_iter.
- Partition-scoped MERGE commit survives NULL and special-character
  partition values (__HIVE_DEFAULT_PARTITION__ / %XX escaping) without
  losing rows.
- latest_run_id reads NO data files: a corrupt gzip part in the newest
  partition must not break run discovery.
- Prefix-filtered Jaccard equals the naive cross-join definition on a
  hot-shingle (boilerplate-heavy) corpus.
- ordered_running_sum equals a global cumulative sum while keeping the
  data-sized window partitioned (the plan carries the __pid key).
"""

from __future__ import annotations

import gzip
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from data_lake_skyfit_spark.functions.hashing import entry_id_expr
from data_lake_skyfit_spark.llm.dedup import connected_components, jaccard_pairs_bruteforce
from data_lake_skyfit_spark.operators.merge import ParquetTable
from data_lake_skyfit_spark.operators.scale import ordered_running_sum, salted_join
from data_lake_skyfit_spark.sources import bronze


def _ref_entry_id(date, member, prospect, employee, branch, device, action) -> int:
    """Python mirror of the reference's generate_entry_id
    (load_evo_entries_stg_fast_v2.py:210-223): pipe-join with falsy→'',
    md5, first 15 hex digits as int, mod 10^15."""
    fields = [
        str(date) if date is not None else "",
        str(member or ""),
        str(prospect or ""),
        str(employee or ""),
        str(branch or ""),
        str(device) if device is not None else "",
        str(action) if action is not None else "",
    ]
    h = hashlib.md5("|".join(fields).encode()).hexdigest()
    return int(h[:15], 16) % 10**15


def test_entry_id_zero_id_matches_reference_falsy_handling(spark):
    rows = [
        ("2024-01-01", 7, None, None, 3, "turnstile", "entry"),
        ("2024-01-01", 0, None, None, 3, "turnstile", "entry"),  # falsy 0
        ("2024-01-01", None, None, None, 3, "turnstile", "entry"),
        ("2024-01-02", 0, 0, 0, 0, "app", "exit"),
        ("2024-01-03", 12, 5, None, 0, "0", "entry"),  # device "0" is truthy
    ]
    df = spark.createDataFrame(
        rows,
        "date string, idMember long, idProspect long, idEmployee long, "
        "idBranch long, device string, entryAction string",
    )
    got = [
        r["eid"]
        for r in df.select(entry_id_expr().alias("eid")).collect()
    ]
    want = [_ref_entry_id(*r) for r in rows]
    assert got == want
    # 0 and NULL must collide (both falsy → ''):
    assert got[1] == got[2]


def test_salted_join_rejects_right_and_full(spark):
    df = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(df, df, ["k"], how=how)


def test_connected_components_raises_when_unconverged(spark):
    # A 30-node chain has diameter 29 — min-label propagation cannot
    # finish in 3 rounds; silence here would split one cluster.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
    # With budget it resolves to a single min-labeled cluster.
    labels = connected_components(chain, max_iter=40).collect()
    assert {r["cluster_id"] for r in labels} == {0}


def test_connected_components_raises_on_null_endpoint(spark):
    """A NULL pair endpoint must fail the job, never be dropped: the
    null-skipping label init would otherwise merge it into a cluster."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (3, 4)], "a_id long, b_id long"
    )
    with pytest.raises(Exception, match="NULL pair endpoint"):
        connected_components(pairs).collect()


def test_trigram_profiles_reject_sql_unsafe_grams(spark, monkeypatch):
    """Profile grams are spliced into SQL literals: a quote must raise
    ValueError, not change the parsed expression."""
    from data_lake_skyfit_spark.llm import text

    monkeypatch.setitem(text.TRIGRAM_PROFILES, "xx", ("a'b",))
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match=r"\[a-z \]"):
        text.language_scores_trigram(df)


def test_partition_merge_null_and_special_values(spark, tmp_path):
    """MERGE on a table partitioned by a column containing NULLs and
    path-hostile strings: no rows may be lost or duplicated (round-1
    ADVICE: f'{k}={v}' dir reconstruction missed
    __HIVE_DEFAULT_PARTITION__ and %XX-escaped dirs)."""
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [
            (1, None, 10.0),
            (2, "a/b", 20.0),   # '/' escapes to %2F on disk
            (3, "a=b", 30.0),   # '=' escapes too
            (4, "plain", 40.0),
        ],
        "id long, part string, v double",
    )
    t = ParquetTable(path, ["id"], partition_by=["part"])
    t.overwrite(base)

    # Source touches every pathological partition: update 1 and 2,
    # insert a new row into the NULL partition.
    delta = spark.createDataFrame(
        [(1, None, 11.0), (2, "a/b", 22.0), (5, None, 50.0)],
        "id long, part string, v double",
    )
    t.merge(delta)
    got = {(r["id"], r["part"], r["v"]) for r in t.read(spark).collect()}
    assert got == {
        (1, None, 11.0),
        (2, "a/b", 22.0),
        (3, "a=b", 30.0),
        (4, "plain", 40.0),
        (5, None, 50.0),
    }


def test_latest_run_id_opens_no_data_files(spark, tmp_path):
    """Run discovery must come from the directory listing alone: a
    corrupt gzip part in the newest run would crash any code path that
    actually reads data (e.g. schema inference)."""
    root = str(tmp_path)
    e = spark.createDataFrame([(1, "x")], "id long, payload string")
    for run in ("20240101120000", "20240102120000"):
        bronze.write_bronze(
            e.withColumn("entity", F.lit("members"))
            .withColumn("ingestion_date", F.lit(run[:8]))
            .withColumn("run_id", F.lit(run)),
            root,
            "evo",
        )
    # Plant a newer partition whose only part is NOT valid gzip/JSON.
    bad = os.path.join(
        bronze.bronze_path(root, "evo"),
        "entity=members",
        "ingestion_date=20240103",
        "run_id=20240103120000",
    )
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.jsonl.gz"), "wb") as f:
        f.write(b"\x00NOT-GZIP\xff" * 16)

    assert bronze.latest_run_id(spark, root, "evo", "members") == "20240103120000"
    # Sanity: actually reading that run DOES fail, proving the corrupt
    # fixture would have caught a data-reading implementation.
    with pytest.raises(Exception):
        spark.read.json(os.path.join(bad, "part-00000.jsonl.gz")).collect()


def test_prefix_filtered_jaccard_on_hot_shingle_corpus(spark):
    """Boilerplate-heavy corpus: every doc shares the same hot prefix
    (the skew case where an unfiltered inverted index degenerates to
    ~n² candidate pairs). Prefix filtering must keep the result equal
    to the naive cross-join definition."""
    boiler = "terms of service apply to all users of this site"
    docs = []
    for i in range(40):
        docs.append((i, f"{boiler} unique tail {i} alpha beta gamma delta"))
    # Two true near-dup pairs (differ in one trailing token):
    docs.append((100, f"{boiler} unique tail 1 alpha beta gamma epsilon"))
    docs.append((101, f"{boiler} unique tail 2 alpha beta gamma zeta"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in jaccard_pairs_bruteforce(df, threshold=0.5).collect()
    }

    from data_lake_skyfit_spark.llm.text import shingles_expr

    sh = df.select(F.col("doc_id").alias("id"), shingles_expr("text", 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    j = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    naive = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.round(j, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert got == naive
    assert len(got) > 0  # the corpus does contain true near-dups


def test_ordered_running_sum_matches_global_cumsum(spark):
    rows = [(i * 37 % 200, (i % 13) + 1) for i in range(200)]  # unique keys (gcd(37,200)=1)
    df = spark.createDataFrame(rows, "k long, v long")
    out = ordered_running_sum(df, ["k"], "v", out_col="cum", partitions=8)
    got = {(r["k"], r["cum"]) for r in out.collect()}

    acc, want = 0, set()
    for k, v in sorted(rows):
        acc += v
        want.add((k, acc))
    assert got == want
    # The data-sized window must be keyed on the frozen partition id —
    # a bare Window.orderBy would show an empty partition spec.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__pid" in plan


def test_contamination_report_flags_planted_overlap(spark):
    from data_lake_skyfit_spark.llm.decontaminate import contamination_report

    secret = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [
            (1, f"intro words here {secret} and a closing remark"),  # planted
            (2, "completely unrelated content about database engines and joins"),
            (3, "short"),  # < n tokens → no shingles → excluded row set keeps it with 0? filtered pre-explode
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, f"benchmark question: {secret} answer below")],
        "doc_id long, text string",
    )
    out = {r["train_id"]: r for r in contamination_report(train, evalset, n=5).collect()}
    assert out[1]["contaminated"] and out[1]["max_shared"] >= 2
    assert not out[2]["contaminated"] and out[2]["n_eval_hits"] == 0
    # shingle-less docs still get a (zero-hit, clean) row:
    assert not out[3]["contaminated"] and out[3]["n_eval_hits"] == 0


def test_registry_contract():
    """The external driver grades exactly the FIRST 50 registry entries:
    every entry must have a real oracle (no rows-only mode exists), the
    first 50 must match the explicit priority order, and any entry past
    the cutoff may only carry tags already covered inside it (so no
    operator family ever falls out of the graded window)."""
    from data_lake_skyfit_spark.queries import _PRIORITY, registry

    r = registry()
    names = list(r)
    assert len(names) >= 50
    assert names[:50] == _PRIORITY
    assert all(q.oracle is not None for q in r.values()), [
        n for n, q in r.items() if q.oracle is None
    ]
    # Round-3 consolidation (VERDICT r2 #5): rollup+cube share
    # grouping_sets_revenue, pivot rides channel_bucketing, funnel is
    # graded directly, customer_order_distribution absorbed the A4/O4
    # top-k shapes — NO family is demoted out of the graded window.
    # Any future demotion must be declared here explicitly.
    demoted_families: set[str] = set()
    front_tags = {t for n in names[:50] for t in r[n].tags} | demoted_families
    for n in names[50:]:
        # tpch-* are shape annotations and no-bench is a bench
        # directive — neither names an operator family.
        uncovered = {
            t for t in r[n].tags if not t.startswith("tpch-") and t != "no-bench"
        } - front_tags
        assert not uncovered, f"{n} carries tags not graded in first 50: {uncovered}"


def test_decontamination_broadcasts_eval_index(spark):
    """The train side must join map-side: the eval shingle index is the
    broadcast build side (the 100 TB contract of the operator)."""
    from data_lake_skyfit_spark.llm.decontaminate import contamination_report

    d = spark.createDataFrame(
        [(i, f"some words number {i} padded out to five tokens minimum here") for i in range(20)],
        "doc_id long, text string",
    )
    out = contamination_report(d.filter("doc_id < 15"), d.filter("doc_id >= 15"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_minhash_index_incremental_equals_oneshot(spark, tmp_path):
    """Batch-by-batch ingestion through the persisted MinHash index must
    recover exactly the one-shot pair set, and re-adding a batch must
    leave the index state unchanged (idempotent MERGEs)."""
    from data_lake_skyfit_spark.llm.dedup import MinHashIndex, minhash_lsh_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [(i, f"{base} doc {i} " + " ".join(f"w{i}_{j}" for j in range(6))) for i in range(30)]
    docs += [(100, f"{base} doc 5 " + " ".join(f"w5_{j}" for j in range(6)) + " x")]
    docs += [(101, f"{base} doc 17 " + " ".join(f"w17_{j}" for j in range(6)) + " y")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    oneshot = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in minhash_lsh_pairs(df, threshold=0.5).collect()
    }

    idx = MinHashIndex(str(tmp_path / "idx"), threshold=0.5)
    got = set()
    for batch in (df.filter("doc_id < 15"), df.filter("doc_id >= 15")):
        got |= {
            (r["a_id"], r["b_id"], r["jaccard"]) for r in idx.add(batch).collect()
        }
    assert got == oneshot and len(oneshot) > 0

    sig_before = {tuple(r) for r in idx.sig_table.read(spark).select("id").collect()}
    idx.add(df.filter("doc_id >= 15"))  # replay
    sig_after = {tuple(r) for r in idx.sig_table.read(spark).select("id").collect()}
    assert sig_before == sig_after


def test_prefix_filter_exact_boundary_pair(spark):
    """Float regression: at threshold 0.8 a 5-shingle doc's prefix is
    ⌊5·0.2⌋+1 = 2, but 5*(1-0.8) in IEEE floats is 0.9999…, flooring to
    a 1-element prefix that misses true J = 0.8 pairs. doc A's 5-gram
    set ⊃ doc B's 4-gram set with J exactly 4/5 = threshold — the pair
    MUST surface."""
    # 3-token shingles: 7 tokens -> 5 shingles; dropping the last token
    # of A gives B with 4 of A's 5 shingles.
    a_text = "w1 w2 w3 w4 w5 w6 w7"
    b_text = "w1 w2 w3 w4 w5 w6"
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    got = jaccard_pairs_bruteforce(df, n=3, threshold=0.8).collect()
    assert [(r["a_id"], r["b_id"], r["jaccard"]) for r in got] == [(1, 2, 0.8)]


def test_connected_components_string_ids(spark):
    """Non-numeric ids cannot use the sum(label) certificate (cast →
    NULL would fake instant convergence); the join fallback must still
    resolve the full chain."""
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "a_id string, b_id string"
    )
    labels = connected_components(chain, max_iter=10).collect()
    assert {r["id"]: r["cluster_id"] for r in labels} == {
        "a": "a", "b": "a", "c": "a", "d": "a"
    }


def test_latest_run_id_numeric_ordering(spark, tmp_path):
    """All-digit run ids compare numerically: run 10 beats run 9."""
    root = str(tmp_path)
    for rid in ("1", "9", "10"):
        d = os.path.join(root, "bronze", "evo", "entity=members",
                         "ingestion_date=2024-01-01", f"run_id={rid}")
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.jsonl.gz"), "wb") as f:
            f.write(gzip.compress(b'{"id": 1}\n'))
    assert bronze.latest_run_id(spark, root, "evo", "members") == "10"


def test_minhash_index_replayed_batch_no_duplicate_pairs(spark, tmp_path):
    """Crash-recovery replay: re-adding the same batch must return the
    same pair set exactly once — a re-added id exists in both the stored
    signatures and the new batch, and without new-signature-wins dedup
    the verification joins fan out into duplicated rows."""
    from data_lake_skyfit_spark.llm.dedup import MinHashIndex

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different content with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    idx = MinHashIndex(str(tmp_path / "idx"), n=3, bands=32, threshold=0.5)
    first = sorted(
        (r["a_id"], r["b_id"]) for r in idx.add(docs).collect()
    )
    replay = idx.add(docs)  # same batch again (crash-recovery replay)
    rows = [(r["a_id"], r["b_id"]) for r in replay.collect()]
    assert sorted(rows) == first  # same pairs...
    assert len(rows) == len(set(rows))  # ...and no duplicated rows


def test_containment_pairs_equals_bruteforce_and_is_asymmetric(spark):
    """The prefix-filtered containment join must equal the ordered-pair
    brute force, and must catch the doc-inside-doc case Jaccard misses:
    a short doc fully quoted inside a much longer one."""
    from data_lake_skyfit_spark.llm.dedup import (
        containment_pairs,
        jaccard_pairs_bruteforce,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long_doc = (
        "intro words here now " + short + " and a very long tail "
        + " ".join(f"tok{i} filler{i} pad{i}" for i in range(40))
    )
    docs = [
        (1, short),
        (2, long_doc),
        (3, "completely different content with many unique words in it"),
        (4, short),  # exact twin of 1
        (5, "xx"),  # < 3 tokens → empty shingle set, must drop silently
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a_id"], r["b_id"]): (r["inter"], r["size_a"])
        for r in containment_pairs(df).collect()
    }
    # brute force in python
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expect = {}
    for a, ta in docs:
        for b, tb in docs:
            sa, sb = sh(ta), sh(tb)
            if a == b or not sa:
                continue
            inter = len(sa & sb)
            if inter * 5 >= 4 * len(sa):
                expect[(a, b)] = (inter, len(sa))
    assert got == expect
    # the asymmetric catch: 1 ⊂ 2 found, but Jaccard(1,2) is far below 0.8
    assert (1, 2) in got and (2, 1) not in got
    jac = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs_bruteforce(df, threshold=0.8).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac


def test_containment_prefix_filter_is_lossless_on_random_corpus(spark):
    """Randomized sweep: prefix-filtered result == unfiltered ordered
    brute force (array_intersect over the full cross set) on a corpus
    with shared boilerplate (hot shingles) and varied lengths."""
    import random

    from pyspark.sql import functions as F

    from data_lake_skyfit_spark.llm.dedup import containment_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    boiler = "terms of service apply here always"
    docs = []
    for i in range(40):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25)))
        docs.append((i, (boiler + " " + body) if i % 3 == 0 else body))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["a_id"], r["b_id"]) for r in containment_pairs(df).collect()}

    from data_lake_skyfit_spark.llm.text import shingles_expr

    s = df.select("doc_id", shingles_expr("text").alias("sh")).filter(
        F.size("sh") > 0
    )
    a, b = s.alias("a"), s.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.size(F.array_intersect("a.sh", "b.sh")).alias("inter"),
            F.size("a.sh").alias("sz"),
        )
        .filter(F.col("inter") * 5 >= 4 * F.col("sz"))
    )
    assert got == {(r["a_id"], r["b_id"]) for r in brute.collect()}


def test_containment_candidate_cap_recall_and_audit(spark, caplog):
    """VERDICT r6 #2: the per-doc candidate cap. On a zipfian
    (realistic) corpus with planted snippet-in-parent pairs, a modest
    cap must keep recall 1.0 — the true pair shares the probe's RAREST
    prefix shingle, so rarest-first ranking protects it. On a
    vocabulary-degenerate corpus the cap must (a) only ever drop pairs
    (capped ⊆ uncapped), and (b) say what it cut (no-silent-caps)."""
    import logging
    import random

    import pytest

    from data_lake_skyfit_spark.llm.dedup import containment_pairs

    rng = random.Random(11)
    # zipfian-ish: rank-weighted vocab + one planted snippet per parent
    vocab = [f"w{i}" for i in range(200)]
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    docs = []
    for i in range(30):
        body = " ".join(rng.choices(vocab, weights)[0] for _ in range(20))
        docs.append((i, body))
        snip = " ".join(body.split()[: 6 + i % 4])
        docs.append((1000 + i, snip))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = {
        (r["a_id"], r["b_id"], r["inter"])
        for r in containment_pairs(df).collect()
    }
    planted = {(1000 + i, i) for i in range(30)}
    assert planted <= {(a, b) for a, b, _ in uncapped}
    capped = {
        (r["a_id"], r["b_id"], r["inter"])
        for r in containment_pairs(df, max_candidates_per_doc=8).collect()
    }
    assert capped == uncapped  # recall 1.0 at a modest cap

    # degenerate vocabulary: every doc drawn from the same 6 words —
    # the prefix filter stops pruning and only the cap bounds fan-out
    deg = spark.createDataFrame(
        [
            (i, " ".join(f"t{(i + j) % 6}" for j in range(12)))
            for i in range(25)
        ],
        "doc_id long, text string",
    )
    full = {(r["a_id"], r["b_id"]) for r in containment_pairs(deg).collect()}
    with caplog.at_level(logging.WARNING, logger="data_lake_skyfit_spark.llm.dedup"):
        tight = {
            (r["a_id"], r["b_id"])
            for r in containment_pairs(deg, max_candidates_per_doc=2).collect()
        }
    assert tight <= full and tight
    assert any("candidate cap" in rec.message for rec in caplog.records)

    with pytest.raises(ValueError):
        containment_pairs(deg, max_candidates_per_doc=0)
