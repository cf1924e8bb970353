"""jobs/curate.py — the curation funnel as a job: quality gate -> exact
dedup -> near-dup removal, curated subset written by doc_id semi-join."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from coa_ocr_simple_spark.jobs.curate import parse_args, run


def _corpus(tmp_path):
    rng = random.Random(7)
    vocab = [f"word{j}" for j in range(500)]
    stop = ["the", "and", "of", "to", "in", "is"]
    rows = []
    for i in range(20):  # distinct quality docs
        words = [
            rng.choice(stop) if k % 4 == 0 else rng.choice(vocab) for k in range(60)
        ]
        rows.append({"doc_id": i, "text": " ".join(words)})
    for i in range(20, 25):  # exact duplicates of doc 0
        rows.append({"doc_id": i, "text": rows[0]["text"]})
    for i in range(25, 28):  # near-duplicates of doc 1
        rows.append({"doc_id": i, "text": rows[1]["text"] + f" x{i}"})
    for i in range(28, 32):  # junk: no stopwords -> quality gate drops
        rows.append({"doc_id": i, "text": "zzz qqq xxx " * 10})
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    return path


def test_curate_funnel_stages_and_output(spark, tmp_path):
    docs_path = _corpus(tmp_path)
    out = str(tmp_path / "curated")
    report = str(tmp_path / "report")
    summary = run(
        parse_args(
            ["--input", docs_path, "--output", out, "--report", report]
        ),
        spark,
    )
    assert summary == {
        "n_total": 32,
        "n_quality": 28,  # 4 junk dropped
        "n_after_exact_dedup": 23,  # 5 exact dups collapsed to doc 0
        "n_curated": 20,  # 3 near-dups of doc 1 dropped
        "jaccard_min": 80,
        "near_dup_policy": "pair_loser",
    }
    curated = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in curated.collect()) == list(range(20))
    # full input columns preserved
    assert set(curated.columns) == {"doc_id", "text", "lang", "source", "n_chars"}
    rep = {r["stage"]: r["n_docs"] for r in spark.read.parquet(report).collect()}
    assert rep == {
        "n_total": 32,
        "n_quality": 28,
        "n_after_exact_dedup": 23,
        "n_curated": 20,
    }


def test_curate_jaccard_threshold_disables_neardup_stage(spark, tmp_path):
    docs_path = _corpus(tmp_path)
    out = str(tmp_path / "curated2")
    summary = run(
        parse_args(
            ["--input", docs_path, "--output", out, "--jaccard-min", "101"]
        ),
        spark,
    )
    assert summary["n_curated"] == summary["n_after_exact_dedup"] == 23


def test_curate_cluster_reps_keeps_one_per_component(spark, tmp_path):
    """--cluster-reps: near-dup removal keeps exactly ONE representative
    (min doc_id) per connected component of the pair graph — on this
    corpus (docs 25-27 all near-dups of doc 1, one component) the result
    matches the pair rule, and the one-rep-per-cluster property holds."""
    from coa_ocr_simple_spark.plans.driver_queries_dedup import neardup_clusters

    docs_path = _corpus(tmp_path)
    out = str(tmp_path / "curated_cr")
    summary = run(
        parse_args(
            ["--input", docs_path, "--output", out, "--cluster-reps"]
        ),
        spark,
    )
    assert summary["near_dup_policy"] == "cluster_reps"
    assert summary["n_curated"] == 20
    curated = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert curated == set(range(20))

    # property: for every near-dup component, at most its min-id member
    # survives — and it does survive when it passed the earlier stages
    clusters = neardup_clusters(spark.read.parquet(docs_path)).collect()
    by_cluster: dict = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    for rep, members in by_cluster.items():
        assert curated & members <= {rep}


def test_curate_block_dedup_and_lang_rebalance_stages(spark, tmp_path):
    """--max-dup-block-pct drops a survivor that smuggles a block-aligned
    copied paragraph past the Jaccard gate; --lang-rebalance then applies
    the deterministic temperature mixture to what remains."""
    import hashlib

    from coa_ocr_simple_spark.plans.driver_queries_mix import _MIX_SCALE

    rng = random.Random(11)
    vocab = [f"word{j}" for j in range(500)]
    stop = ["the", "and", "of", "to", "in", "is"]

    def quality_words(n):
        return [
            rng.choice(stop) if k % 4 == 0 else rng.choice(vocab) for k in range(n)
        ]

    rows = []
    for i in range(20):
        rows.append({"doc_id": i, "text": " ".join(quality_words(60)), "lang": "en"})
    # doc 50: first 20 tokens = doc 2's block 0 (block-aligned paste),
    # then 40 fresh tokens -> Jaccard vs doc 2 is ~33% (< the 80 gate) so
    # the funnel keeps it, but 1 of its 3 blocks is a non-canonical dup
    # (33% > the 30% cap) -> the block stage must drop it
    rows.append(
        {
            "doc_id": 50,
            "text": " ".join(rows[2]["text"].split()[:20] + quality_words(40)),
            "lang": "en",
        }
    )
    # a thin fr slice: rebalancing keeps all of it and downsamples en
    for i in range(60, 64):
        rows.append({"doc_id": i, "text": " ".join(quality_words(60)), "lang": "fr"})
    for r in rows:
        r.update({"source": "s", "n_chars": len(r["text"])})
    docs_path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows), docs_path)

    out = str(tmp_path / "curated_bl")
    summary = run(
        parse_args(
            [
                "--input", docs_path, "--output", out,
                "--max-dup-block-pct", "30", "--lang-rebalance",
            ]
        ),
        spark,
    )
    assert summary["n_curated"] == summary["n_after_lang_rebalance"]
    # funnel keeps everything (all quality, no exact/near dups at 80)...
    assert summary["n_after_exact_dedup"] == 25
    # ...block stage drops exactly doc 50
    assert summary["n_after_block_dedup"] == 24

    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 50 not in kept
    assert all(i in kept for i in range(60, 64))  # fr (n_min) all survive
    # en survivors match the exact integer predicate independently
    counts = {"en": 20, "fr": 4}
    expected_en = {
        i
        for i in range(20)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) ** 2
        * counts["en"]
        < _MIX_SCALE**2 * counts["fr"]
    }
    assert {d for d in kept if d < 20} == expected_en


def test_curate_then_shard_export_composes(spark, tmp_path):
    """The full corpus-build tail: curate -> deterministic sharded
    export -> manifest verification.  The manifest computed over the
    curated docs must agree shard-for-shard with what the writer
    actually put on disk — the control-table contract a 10^12-doc
    export publishes for its trainer."""
    from coa_ocr_simple_spark.plans.driver_queries_mix import (
        shard_manifest,
        write_sharded,
    )

    docs_path = _corpus(tmp_path)
    out = str(tmp_path / "curated_compose")
    run(parse_args(["--input", docs_path, "--output", out]), spark)

    curated = spark.read.parquet(out)
    shards = str(tmp_path / "shards")
    write_sharded(curated, shards, n_shards=8)

    manifest = {
        r["shard_id"]: r["n_docs"]
        for r in shard_manifest(curated, n_shards=8).collect()
    }
    on_disk = {
        r["shard_id"]: r["n"]
        for r in spark.read.parquet(shards)
        .groupBy("shard_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert on_disk == manifest
    assert sum(on_disk.values()) == curated.count()


def test_export_shards_job_verifies_manifest(spark, tmp_path):
    """The export job writes shards, publishes the manifest, and
    self-verifies disk vs manifest before reporting success."""
    from coa_ocr_simple_spark.jobs import export_shards

    docs_path = _corpus(tmp_path)
    out = str(tmp_path / "shards_job")
    man = str(tmp_path / "manifest_job")
    summary = export_shards.run(
        export_shards.parse_args(
            ["--input", docs_path, "--output", out,
             "--manifest", man, "--n-shards", "8"]
        ),
        spark,
    )
    assert summary["verified"] and summary["n_docs"] == 32
    m_rows = sorted(map(tuple, spark.read.parquet(man).collect()))
    assert len(m_rows) == summary["n_shards_written"]
    assert {r[0] for r in m_rows} <= set(range(8))

    # re-running the job must REPLACE the manifest, not append to it:
    # shard data is overwritten, so a stale+fresh manifest mix would break
    # the trainer's verify-against-manifest contract
    summary2 = export_shards.run(
        export_shards.parse_args(
            ["--input", docs_path, "--output", out,
             "--manifest", man, "--n-shards", "8"]
        ),
        spark,
    )
    assert summary2["verified"]
    m2_rows = sorted(map(tuple, spark.read.parquet(man).collect()))
    assert len(m2_rows) == summary2["n_shards_written"]  # no duplicated rows
    assert m2_rows == m_rows


def test_curate_perplexity_stage_drops_surprising_doc(spark, tmp_path):
    """--max-mille-bits: a quality-passing doc whose bigrams are all
    unseen under the survivors' held-in LM slice pays the flat unseen
    penalty (20 bits/bigram) and drops; template docs pass."""
    import random

    rng = random.Random(3)
    stop = ["the", "and", "of", "to", "in", "is"]
    base = " ".join(
        rng.choice(stop) if k % 3 == 0 else f"w{k % 17}" for k in range(60)
    )
    rows = []
    for i in range(20):  # template docs: shared bigram distribution
        rows.append({"doc_id": i, "text": base + f" tail{i}"})
    # doc 20: stopwords (passes quality) but a fully alien bigram set
    rows.append(
        {"doc_id": 20,
         "text": " ".join(f"alien{k} the" for k in range(30))}
    )
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "ppl_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    out = str(tmp_path / "ppl_curated")
    summary = run(
        parse_args(
            ["--input", path, "--output", out,
             "--jaccard-min", "101",  # disable near-dup for isolation
             "--max-mille-bits", "15000"]
        ),
        spark,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 20 not in kept
    assert summary["n_after_perplexity"] == len(kept)
    assert len(kept) >= 15  # the template docs survive the gate


def test_curate_cut_dup_spans_rewrites_payload(spark, tmp_path):
    """--cut-dup-spans: survivors' text loses corpus-duplicated spans
    (keep-first), fully-cut docs drop, n_chars tracks the new text."""
    import random

    rng = random.Random(11)
    stop = ["the", "and", "of", "to", "in", "is"]

    def qdoc(seed, n=60):
        r = random.Random(seed)
        return [
            r.choice(stop) if k % 3 == 0 else f"w{seed}_{k}" for k in range(n)
        ]

    d0 = qdoc(0)
    d1 = qdoc(1)
    paste = d0[10:26]  # 16 tokens of doc0 pasted mid-doc1
    d1 = d1[:30] + paste + d1[30:]
    d2 = d0 + d0  # doubled doc0 -> fully cut at w=10 (seam windows merge)
    rows = [
        {"doc_id": 0, "text": " ".join(d0)},
        {"doc_id": 1, "text": " ".join(d1)},
        {"doc_id": 2, "text": " ".join(d2)},
    ]
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "cut_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    out = str(tmp_path / "cut_curated")
    summary = run(
        parse_args(
            ["--input", path, "--output", out,
             "--jaccard-min", "101",  # isolate the cut stage
             "--cut-dup-spans", "--cut-span-w", "10"]
        ),
        spark,
    )
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {0, 1}  # doc2 fully cut -> dropped
    assert summary["n_fully_cut_docs"] == 1
    assert summary["n_after_span_cut"] == 2
    # doc0 is the corpus-wide first occurrence: untouched
    assert got[0]["text"].split() == d0
    # doc1 lost exactly the pasted segment (and nothing else)
    assert got[1]["text"].split() == qdoc(1)
    assert summary["n_tokens_cut"] == len(paste) + len(d2)
    # n_chars refreshed to the cleaned text
    for d in (0, 1):
        assert got[d]["n_chars"] == len(got[d]["text"])


def test_curate_entropy_filter_stage(spark, tmp_path):
    """--entropy-filter: a stopword-rich doc made of ONE repeated word
    passes the language/stopword quality gate but collapses to 1 coarse
    bit/char of character entropy and drops; prose survives.  Without
    the flag the same doc ships."""
    import random

    rng = random.Random(11)
    stop = ["the", "and", "of", "to", "in", "is"]
    vocab = [f"word{j}" for j in range(300)]
    rows = []
    for i in range(12):  # prose docs: pass quality AND the entropy gate
        words = [
            rng.choice(stop) if k % 4 == 0 else rng.choice(vocab)
            for k in range(60)
        ]
        rows.append({"doc_id": i, "text": " ".join(words)})
    # doc 12: 100% stopwords (quality-passing) on a 3-char alphabet
    rows.append({"doc_id": 12, "text": "to " * 30})
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "ent_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    out_on = str(tmp_path / "ent_on")
    summary = run(
        parse_args(
            ["--input", path, "--output", out_on,
             "--jaccard-min", "101",  # disable near-dup for isolation
             "--entropy-filter"]
        ),
        spark,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out_on).collect()}
    assert 12 not in kept
    assert summary["n_after_entropy"] == len(kept)
    assert set(range(12)) <= kept

    out_off = str(tmp_path / "ent_off")
    summary_off = run(
        parse_args(
            ["--input", path, "--output", out_off, "--jaccard-min", "101"]
        ),
        spark,
    )
    assert "n_after_entropy" not in summary_off
    kept_off = {r["doc_id"] for r in spark.read.parquet(out_off).collect()}
    assert 12 in kept_off


def test_curate_gopher_filter_stage(spark, tmp_path):
    """--gopher-filter: a quality-passing doc that is >90% bullet lines
    fails the Gopher A1.1 gate and drops; prose docs survive. Without
    the flag the same doc ships."""
    import random

    rng = random.Random(9)
    stop = ["the", "and", "of", "to", "in", "is"]
    vocab = [f"word{j}" for j in range(300)]
    rows = []
    for i in range(15):  # prose docs: pass quality AND gopher
        words = [
            rng.choice(stop) if k % 4 == 0 else rng.choice(vocab)
            for k in range(60)
        ]
        rows.append({"doc_id": i, "text": " ".join(words)})
    # doc 15: stopword-rich (passes quality) but every line is a bullet
    rows.append(
        {
            "doc_id": 15,
            "text": "\n".join(
                f"- the item{k} and of note{k}" for k in range(12)
            ),
        }
    )
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "gq_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    out_on = str(tmp_path / "gq_on")
    summary = run(
        parse_args(
            ["--input", path, "--output", out_on,
             "--jaccard-min", "101",  # disable near-dup for isolation
             "--gopher-filter"]
        ),
        spark,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out_on).collect()}
    assert 15 not in kept
    assert summary["n_after_gopher"] == len(kept)
    assert set(range(15)) <= kept  # all prose docs survive

    out_off = str(tmp_path / "gq_off")
    summary_off = run(
        parse_args(
            ["--input", path, "--output", out_off, "--jaccard-min", "101"]
        ),
        spark,
    )
    assert "n_after_gopher" not in summary_off
    kept_off = {r["doc_id"] for r in spark.read.parquet(out_off).collect()}
    assert 15 in kept_off


def test_curate_c4_clean_rewrites_and_drops_pages(spark, tmp_path):
    """--c4-clean: survivor text keeps only C4-passing lines; a page
    left with < 5 kept lines drops; composes with --cut-dup-spans
    (stage counts stay consistent)."""
    import random

    rng = random.Random(19)
    stop = ["the", "and", "of", "to", "in", "is"]
    vocab = [f"word{j}" for j in range(400)]

    def line(seed, n=8):
        r = random.Random(seed)
        ws = [r.choice(stop) if k % 3 == 0 else r.choice(vocab) for k in range(n)]
        return " ".join(ws) + "."

    rows = []
    for i in range(12):  # clean docs: 6 C4-passing lines each
        rows.append(
            {"doc_id": i,
             "text": "\n".join(line(i * 100 + k) for k in range(6))}
        )
    # doc 12: 5 good lines + 2 junk lines (no terminal punct) -> junk cut
    good = [line(1300 + k) for k in range(5)]
    rows.append({"doc_id": 12, "text": "\n".join(good + ["no punct line here", "nope"])})
    # doc 13: only 3 punctuated lines -> whole page drops under C4
    rows.append(
        {"doc_id": 13, "text": "\n".join(line(1400 + k) for k in range(3))}
    )
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "c4_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    out = str(tmp_path / "c4_curated")
    summary = run(
        parse_args(
            ["--input", path, "--output", out,
             "--jaccard-min", "101", "--c4-clean"]
        ),
        spark,
    )
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert 13 not in got
    assert summary["n_c4_dropped_docs"] == 1
    assert summary["n_after_c4"] == len(got)
    # doc 12's junk lines are gone, good lines intact, n_chars refreshed
    assert got[12]["text"] == "\n".join(good)
    assert got[12]["n_chars"] == len(got[12]["text"])


def test_curate_dedup_paragraphs_rewrites_payload(spark, tmp_path):
    """--dedup-paragraphs: every non-canonical occurrence of a
    normalized paragraph across the survivor corpus is removed from the
    shipped text; a doc reduced to nothing drops entirely."""
    import random

    stop = ["the", "and", "of", "to", "in", "is"]
    vocab = [f"word{j}" for j in range(400)]

    def para(seed, n=10):
        r = random.Random(seed)
        ws = [r.choice(stop) if k % 3 == 0 else r.choice(vocab) for k in range(n)]
        return " ".join(ws)

    boiler = para(999)
    rows = []
    uniq = {}
    for i in range(10):  # each doc: 3 unique paragraphs + shared boilerplate
        uniq[i] = [para(i * 10 + k) for k in range(3)]
        rows.append({"doc_id": i, "text": "\n".join(uniq[i] + [boiler])})
    # doc 10 is ONLY boilerplate -> emptied by the dedup, drops
    rows.append({"doc_id": 10, "text": boiler + "\n" + boiler.upper()})
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "pd_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    out = str(tmp_path / "pd_curated")
    summary = run(
        parse_args(
            ["--input", path, "--output", out,
             "--jaccard-min", "101", "--dedup-paragraphs"]
        ),
        spark,
    )
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    # doc 0 owns the canonical boilerplate occurrence and keeps it;
    # docs 1-9 lose it; doc 10 is emptied and drops
    assert 10 not in got
    assert got[0]["text"] == "\n".join(uniq[0] + [boiler])
    for i in range(1, 10):
        assert got[i]["text"] == "\n".join(uniq[i])
        assert got[i]["n_chars"] == len(got[i]["text"])
    assert summary["n_paragraph_emptied_docs"] == 1
    # 9 survivor copies + 2 in doc 10 (the 2nd also dups the 1st)
    assert summary["n_dup_paragraphs_cut"] == 11
    assert summary["n_after_paragraph_dedup"] == len(got)


def test_curate_dsir_select_stage(spark, tmp_path):
    """--dsir-select keeps exactly the survivor docs the standalone
    dsir_importance frame marks is_selected (computed over the same
    survivor set)."""
    from coa_ocr_simple_spark.plans.driver_queries_quality import (
        dsir_importance,
    )

    path = _corpus(tmp_path)
    out = str(tmp_path / "dsir_curated")
    summary = run(
        parse_args(
            ["--input", path, "--output", out,
             "--jaccard-min", "101", "--dsir-select"]
        ),
        spark,
    )
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # recompute the expectation over the same pre-DSIR survivor set:
    # quality gate + exact dedup survivors (jaccard 101 disables neardup)
    docs = spark.read.parquet(path)
    pre = sorted(
        set(range(20)) | {25, 26, 27}
    )  # quality docs + near-dup variants; exact dups 20-24 lose to doc 0
    surv = docs.where(F.col("doc_id").isin(pre))
    want = {
        r["doc_id"]
        for r in dsir_importance(surv).collect()
        if r["is_selected"]
    }
    assert got == want
    assert summary["n_after_dsir"] == len(want)
    assert 0 < len(want) < len(pre)  # a strict-mean split is non-trivial


def test_curate_nb_quality_stage(spark, tmp_path):
    """--nb-quality: the NB classifier trains on the survivors'
    doc_id%10==2 slice (Gopher-labeled — the symbol-spam docs are the
    negative class) and its verdicts drop exactly the spam docs from
    the held-out survivors too."""
    rng = random.Random(31)
    stop = ["the", "and", "of", "to", "in", "is"]
    vocab = [f"word{j}" for j in range(400)]
    rows = []
    for i in range(60):
        words = [
            rng.choice(stop) if k % 4 == 0 else rng.choice(vocab)
            for k in range(60)
        ]
        text = " ".join(words)
        if i % 4 == 2:  # spam docs; residue 2 intersects the %10==2
            text += " ###..." * 30  # train slice (3 spam / 3 clean)
        rows.append({"doc_id": i, "text": text})
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "nb_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    out = str(tmp_path / "nb_on")
    summary = run(
        parse_args(
            ["--input", path, "--output", out,
             "--jaccard-min", "101",  # disable near-dup for isolation
             "--nb-quality"]
        ),
        spark,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {i for i in range(60) if i % 4 != 2}
    assert summary["n_after_nb_quality"] == 45

    out_off = str(tmp_path / "nb_off")
    run(
        parse_args(
            ["--input", path, "--output", out_off, "--jaccard-min", "101"]
        ),
        spark,
    )
    assert spark.read.parquet(out_off).count() == 60  # spam ships w/o flag


def test_curate_all_stages_compose(spark, tmp_path):
    """Every optional stage enabled at once: the funnel completes, the
    stage counts are monotone non-increasing in funnel order, and the
    shipped rows keep the input schema with n_chars tracking the
    (rewritten) text."""
    import random

    rng = random.Random(101)
    stop = ["the", "and", "of", "to", "in", "is"]
    vocab = [f"word{j}" for j in range(600)]

    def line(seed, n=9):
        r = random.Random(seed)
        ws = [r.choice(stop) if k % 3 == 0 else r.choice(vocab) for k in range(n)]
        return " ".join(ws) + "."

    rows = []
    for i in range(30):
        lang = "en" if i % 3 else "de"
        rows.append(
            {"doc_id": i,
             "text": "\n".join(line(i * 31 + k) for k in range(7)),
             "lang": lang}
        )
    for i in range(30, 33):  # exact dups of doc 0
        rows.append({"doc_id": i, "text": rows[0]["text"], "lang": "en"})
    for r in rows:
        r.update({"source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "all_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    spark.catalog.clearCache()  # the all-stages chain is the heap hog
    out = str(tmp_path / "all_curated")
    report = str(tmp_path / "all_report")
    summary = run(
        parse_args(
            ["--input", path, "--output", out, "--report", report,
             "--nb-quality", "--quality-sample", "--gopher-filter",
             "--entropy-filter", "--max-mille-bits", "30000",
             "--dsir-select", "--max-dup-block-pct", "90",
             "--char-budget-div", "1",  # budget covers everything: no-op cut
             "--lang-rebalance", "--c4-clean", "--dedup-paragraphs",
             "--cut-dup-spans"]
        ),
        spark,
    )
    order = [
        "n_total", "n_quality", "n_after_exact_dedup", "n_curated",
        "n_after_nb_quality", "n_after_quality_sample",
        "n_after_gopher", "n_after_entropy", "n_after_perplexity",
        "n_after_dsir",
        "n_after_block_dedup", "n_after_char_budget",
        "n_after_lang_rebalance", "n_after_c4",
        "n_after_paragraph_dedup", "n_after_span_cut",
    ]
    # --char-budget-div 1 allocates the full char mass: every source
    # ships whole, so the stage must be an exact no-op
    assert summary["n_after_char_budget"] == summary["n_after_block_dedup"]
    # n_curated is recomputed after the doc-set stages; check the
    # doc-count funnel is monotone in the order the stages ran
    seq = [summary[k] for k in order if k in summary and k != "n_curated"]
    assert all(a >= b for a, b in zip(seq, seq[1:])), summary
    got = spark.read.parquet(out)
    docs_cols = ["doc_id", "text", "lang", "source", "n_chars"]
    assert sorted(got.columns) == sorted(docs_cols)
    final_rows = got.collect()
    assert len(final_rows) == summary["n_after_span_cut"] > 0
    for r in final_rows:
        assert r["text"] != "" and r["n_chars"] == len(r["text"])
    # the report table carries every stage count
    rep = {r["stage"]: r["n_docs"]
           for r in spark.read.parquet(report).collect()}
    for k in order:
        if k in summary:
            assert rep[k] == summary[k]


def test_curate_drop_ppl_tail_stage(spark, tmp_path):
    """--drop-ppl-tail: the adaptive CCNet tercile drops roughly the
    most-surprising third of the survivors — the alien-bigram doc lands
    in the tail, the most template-like docs in the head."""
    import random

    rng = random.Random(7)
    stop = ["the", "and", "of", "to", "in", "is"]
    base = " ".join(
        rng.choice(stop) if k % 3 == 0 else f"w{k % 17}" for k in range(60)
    )
    rows = []
    for i in range(20):
        rows.append({"doc_id": i, "text": base + f" tail{i}"})
    rows.append(
        {"doc_id": 20,
         "text": " ".join(f"alien{k} the" for k in range(30))}
    )
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "tercile_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)

    out = str(tmp_path / "tercile_curated")
    summary = run(
        parse_args(
            ["--input", path, "--output", out,
             "--jaccard-min", "101",
             "--drop-ppl-tail"]
        ),
        spark,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    n_surv = summary["n_quality"]
    assert 20 not in kept  # the alien doc is in the tail by construction
    assert summary["n_after_ppl_tail"] == len(kept)
    # terciles: at most 2/3 of survivors ship, and the head+middle are
    # non-empty (the stage is a split, not a rubber stamp or a wipe)
    assert 0 < len(kept) <= 2 * n_surv // 3 + 1


def _stage_corpus(tmp_path):
    """Every stage of the --gopher-filter --c4-clean --pii-scrub run has
    work: junk and exact dups for the funnel, an all-bullet doc for
    Gopher, a three-line page for C4, planted PII for the scrub."""
    rng = random.Random(23)
    vocab = [f"word{j}" for j in range(500)]
    stop = ["the", "and", "of", "to", "in", "is"]

    def line(n=9):
        ws = [rng.choice(stop) if k % 3 == 0 else rng.choice(vocab) for k in range(n)]
        return " ".join(ws) + "."

    rows = [{"doc_id": i, "text": "\n".join(line() for _ in range(6))} for i in range(16)]
    rows[3]["text"] += "\nmail bob@example.com or call 555-123-4567 today."
    rows[7]["text"] += "\nhost 10.0.0.12 and ssn 123-45-6789 on file."
    rows.append({"doc_id": 16, "text": "\n".join(line() for _ in range(3))})
    rows.append(
        {"doc_id": 17, "text": "\n".join(f"- the item{k} and of note{k}" for k in range(12))}
    )
    rows += [{"doc_id": i, "text": rows[5]["text"]} for i in (18, 19)]
    rows += [{"doc_id": i, "text": "zzz qqq xxx " * 10} for i in (20, 21)]
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / "stage_docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    return path


def _explicit_counts(spark, path, flags):
    """The summary recomputed with one count()/agg() per stage frame —
    the pre-observation way of reading the same numbers."""
    from coa_ocr_simple_spark.plans.driver_queries_corpus import (
        _CC, _EMAIL, _IPV4, _PHONE, _SSN,
    )
    from coa_ocr_simple_spark.plans.driver_queries_dedup import curation_stages
    from coa_ocr_simple_spark.plans.driver_queries_quality import (
        c4_line_clean,
        gopher_quality_signals,
    )

    docs = spark.read.parquet(path)
    st = curation_stages(docs)
    want = {
        "n_total": docs.count(),
        "n_quality": st.quality.count(),
        "n_after_exact_dedup": st.surviving_exact.count(),
        "n_curated": st.final.count(),
        "jaccard_min": 80,
        "near_dup_policy": "pair_loser",
    }
    if not flags:
        return want
    bad = (
        gopher_quality_signals(docs.join(st.final, "doc_id", "left_semi"))
        .where(F.col("is_gopher_bad") == 1)
        .select("doc_id")
    )
    final = st.final.join(bad, "doc_id", "left_anti")
    want["n_after_gopher"] = want["n_curated"] = final.count()
    c4 = c4_line_clean(docs.join(final, "doc_id", "left_semi"))
    want["n_c4_dropped_docs"] = c4.where("is_dropped").count()
    want["n_after_c4"] = want["n_curated"] - want["n_c4_dropped_docs"]
    n_matches = sum(
        F.sum(F.size(F.regexp_extract_all("text_clean", F.lit(p), 0)))
        for p in (_CC, _SSN, _IPV4, _EMAIL, _PHONE)
    )
    want["n_pii_matches_scrubbed"] = (
        c4.where(~F.col("is_dropped")).agg(n_matches).first()[0]
    )
    return want


@pytest.mark.parametrize("flags", [[], ["--gopher-filter", "--c4-clean", "--pii-scrub"]])
def test_observed_counts_equal_explicit_counts(spark, tmp_path, flags):
    """Every summary count is an observed metric of an action the job
    already runs; each must equal an explicit count() of the same frame,
    and the shipped rows must match the last count."""
    path = _stage_corpus(tmp_path)
    out = str(tmp_path / "observed_out")
    summary = run(parse_args(["--input", path, "--output", out] + flags), spark)
    want = _explicit_counts(spark, path, flags)
    assert summary == want
    shipped = want.get("n_after_c4", want["n_curated"])
    assert spark.read.parquet(out).count() == shipped
    if flags:  # every stage did some work on this corpus
        assert want["n_quality"] < want["n_total"]
        assert want["n_after_exact_dedup"] < want["n_quality"]
        assert want["n_after_gopher"] < want["n_after_exact_dedup"]
        assert 0 < want["n_c4_dropped_docs"] < want["n_after_gopher"]
        assert want["n_pii_matches_scrubbed"] == 4


def test_default_curate_run_action_and_job_budget(spark, tmp_path, job_and_action_counts):
    """The default run is three SQL actions (input fill, bands fill,
    output write) — the stage counts cost no job of their own.  27 Spark
    jobs on this corpus and session; the per-stage count() design ran 9
    actions and 39 jobs."""
    path = _corpus(tmp_path)
    spark.catalog.clearCache()
    n_jobs, n_actions = job_and_action_counts(
        lambda: run(parse_args(["--input", path, "--output", str(tmp_path / "b")]), spark)
    )
    assert n_jobs <= 27
    assert n_actions == 3


def test_optional_stage_curate_run_action_budget(spark, tmp_path, job_and_action_counts):
    """One doc-set stage and two payload rewrites: 9 SQL actions, the
    count measured when each stage was a hand-written block.  Driving
    the stages from tables must add no action.  Besides the three
    default actions they are the lineage cut, the Gopher checkpoint, the
    two rewrite cuts and two Observed re-counts: C4 drops every
    single-line page of this corpus, so AQE prunes the rewrites'
    observed branches."""
    path = _corpus(tmp_path)
    flags = ["--gopher-filter", "--c4-clean", "--dedup-paragraphs"]
    spark.catalog.clearCache()
    n_jobs, n_actions = job_and_action_counts(
        lambda: run(parse_args(["--input", path, "--output", str(tmp_path / "o")] + flags), spark)
    )
    assert n_actions == 9, (n_jobs, n_actions)


def test_curate_run_frees_its_lineage_cuts(spark, tmp_path, local_checkpoints):
    """Two doc-set stages and two payload rewrites: every survivor set
    and payload the run checkpointed is freed by the end of the run
    (``unpersist()`` left each one in executor storage)."""
    path = _corpus(tmp_path)
    flags = ["--gopher-filter", "--entropy-filter", "--c4-clean", "--dedup-paragraphs"]
    out = str(tmp_path / "o")
    summary = run(parse_args(["--input", path, "--output", out] + flags), spark)
    made, stored = local_checkpoints()
    assert len(made) == 5 and stored == []  # the first cut, 2 stages, 2 rewrites
    assert spark.read.parquet(out).count() == summary["n_after_paragraph_dedup"]


def _write_docs(tmp_path, rows, name):
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    for r in rows:
        r.update({"lang": "en", "source": "s", "n_chars": len(r["text"])})
    path = str(tmp_path / name)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return path


@pytest.mark.parametrize("corpus", ["all_junk", "empty"])
@pytest.mark.parametrize("flags", [[], ["--gopher-filter", "--c4-clean", "--encoding-clean", "--pii-scrub"]])
def test_degenerate_corpus_gives_zero_summary(spark, tmp_path, corpus, flags):
    """A corpus the quality gate drops entirely, and an empty input: AQE
    prunes the observed branches (their metrics never arrive, or arrive
    empty), yet the run neither hangs nor raises and every count is 0."""
    import threading

    rows = [{"doc_id": i, "text": "zzz qqq xxx " * 10} for i in range(6)]
    path = _write_docs(tmp_path, rows if corpus == "all_junk" else [], "degenerate.parquet")
    out = str(tmp_path / "degenerate_out")
    result = {}

    def _run():
        result["summary"] = run(parse_args(["--input", path, "--output", out] + flags), spark)

    t = threading.Thread(target=_run, daemon=True)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive(), "curate run hung reading its stage counts"
    summary = result["summary"]
    assert summary.pop("n_total") == len(rows if corpus == "all_junk" else [])
    assert summary.pop("jaccard_min") == 80
    assert summary.pop("near_dup_policy") == "pair_loser"
    assert summary and set(summary.values()) == {0}, summary
    assert spark.read.parquet(out).count() == 0


def test_c4_dropping_every_survivor_still_counts_them(spark, tmp_path):
    """When C4 drops every survivor, AQE replaces the write's join with an
    empty relation and the observed drop count never arrives; the count
    is recomputed from the same frame, not read as 0."""
    path = _corpus(tmp_path)  # single-line docs: every page fails C4
    out = str(tmp_path / "c4_all")
    summary = run(parse_args(["--input", path, "--output", out, "--c4-clean"]), spark)
    assert summary["n_curated"] == summary["n_c4_dropped_docs"] == 20
    assert summary["n_after_c4"] == 0
    assert spark.read.parquet(out).count() == 0


def test_every_curate_flag_is_a_table_stage_or_a_known_arg():
    """JVM-free wiring check: each option of the job is a doc-set table
    stage, a payload-rewrite table stage, one of the two stateless
    scrubs, or a known non-stage argument.  A new flag without a table
    entry (or a table entry without its flag) fails here."""
    import argparse

    from coa_ocr_simple_spark.jobs import _cli
    from coa_ocr_simple_spark.jobs.curate import DOC_SET_STAGES, REWRITES

    session = argparse.ArgumentParser()
    _cli.add_session_args(session)
    known = {"input", "output", "report", "jaccard_min", "cluster_reps",
             "cut_span_w", "lang_alpha"} | set(vars(session.parse_args([])))
    groups = [
        [s.flag for s in DOC_SET_STAGES],
        [r.flag for r in REWRITES],
        ["encoding_clean", "pii_scrub"],
        sorted(known),
    ]
    flat = [dest for g in groups for dest in g]
    assert len(flat) == len(set(flat)), "a dest sits in two groups"
    assert set(flat) == set(vars(parse_args(["--input", "i", "--output", "o"])))
    keys = [s.key for s in DOC_SET_STAGES] + [r.key for r in REWRITES]
    assert len(keys) == len(set(keys)) and all(k.startswith("n_after_") for k in keys)
    assert {s.how for s in DOC_SET_STAGES} == {"left_semi", "left_anti"}
