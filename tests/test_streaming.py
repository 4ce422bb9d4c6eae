"""Incremental KG construction (streaming/construct.py): arrival batches
build the same KG as one batch rebuild, replays are exactly-once, linking
is grow-only, and offline compaction preserves content across crashes."""

import pytest
from pyspark.sql import functions as F

from kgist_spark.sources.webpages import World, generate_pages

pytestmark = pytest.mark.spark


# ---------------------------------------------------------------------------
# incremental KG construction (streaming/construct.py)
# ---------------------------------------------------------------------------

def test_incremental_construct_matches_batch(spark, tmp_path):
    """3 arrival batches over the generated corpus produce the same KG as
    one batch rebuild (canonical groupings compared as partitions; triples
    compared after normalizing each group to its min representative)."""
    from kgist_spark.pipeline.run import construct_kg
    from kgist_spark.sources.webpages import generate_pages
    from kgist_spark.streaming.construct import (
        read_dictionary,
        read_incremental_kg,
        run_incremental_construct,
    )

    stream_in = str(tmp_path / "in")
    out = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 1500, seed=42).cache()
    pages.count()
    docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
    for lo, hi in [(0, 500), (500, 1000), (1000, 1500)]:
        pages.where((docnum >= lo) & (docnum < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stream_in)

    res = run_incremental_construct(
        spark, stream_in, out, ckpt, n_buckets=4, max_files_per_trigger=1
    )
    assert len(res) == 3 and not any(r["skipped"] for r in res)

    it, il = read_incremental_kg(spark, out)
    bt, bl = construct_kg(spark, pages, out_dir=None)
    assert it.count() == bt.count()
    assert il.count() == bl.count()

    # canonical partitions agree (set of member-sets)
    groups = {}
    for r in read_dictionary(spark, out).collect():
        groups.setdefault(r["canonical"], set()).add(r["surface"])
    rep = {c: min(m) for c, m in groups.items()}
    iset = {
        (rep.get(r["subj"], r["subj"]), r["pred"], rep.get(r["obj"], r["obj"]))
        for r in it.collect()
    }
    bset = {(r["subj"], r["pred"], r["obj"]) for r in bt.collect()}
    # batch canonicals are already min-of-group representatives
    assert iset == bset and iset

    # eids stayed unique and dense-from-zero across batches
    eids = sorted(r["eid"] for r in it.select("eid").collect())
    assert eids == list(range(len(eids)))

    # resume: nothing new arrives -> no batches run, KG unchanged
    res2 = run_incremental_construct(
        spark, stream_in, out, ckpt, n_buckets=4, max_files_per_trigger=1
    )
    assert res2 == []
    it2, _ = read_incremental_kg(spark, out)
    assert it2.count() == it.count()


def test_incremental_linking_and_grow_only_contract(spark, tmp_path):
    """Surface variants arriving in later batches link into the existing
    canonical group via the LSH dictionary path (no group ever splits), and
    a replayed batch reproduces its own output (exactly-once)."""
    from kgist_spark.streaming.construct import (
        construct_batch_incremental,
        read_dictionary,
        read_incremental_kg,
    )

    out = str(tmp_path / "kg")

    def pages_df(rows):
        import datetime as dt

        return spark.createDataFrame(
            [(u, dt.datetime(2024, 1, 1), b"", t, "en") for u, t in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    b0 = pages_df([("u://0", "Quantum Dynamics Inc is located in Berlin.")])
    b1 = pages_df([("u://1", "Alice Smith works for Quantum Dynamics Corp.")])
    b2 = pages_df([("u://2", "Bob Jones founded Quantum Dynamics Labs.")])

    construct_batch_incremental(spark, b0, out, batch_id=0, n_buckets=2)
    construct_batch_incremental(spark, b1, out, batch_id=1, n_buckets=2)

    # true replay recompute (crash AFTER batch 1's table writes but BEFORE
    # its manifest append; the stream replays batch 1 before batch 2 can
    # start — batches commit serially): drop batch 1's manifest rows and
    # re-run — the exclude-own-batch reads must reproduce the identical
    # rows AND eids, not anti-join them away against batch 1's own
    # half-committed partitions
    import json

    from kgist_spark.pipeline.materialize import read_manifest

    it, _ = read_incremental_kg(spark, out)
    before = sorted(map(tuple, it.select("subj", "pred", "obj", "eid").collect()))
    entries = [e for e in read_manifest(out) if e.get("batch") != 1]
    with open(f"{out}/_manifest.json", "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in entries)
    res = construct_batch_incremental(spark, b1, out, batch_id=1, n_buckets=2)
    assert not res["skipped"]
    it2, _ = read_incremental_kg(spark, out)
    after = sorted(map(tuple, it2.select("subj", "pred", "obj", "eid").collect()))
    assert after == before

    construct_batch_incremental(spark, b2, out, batch_id=2, n_buckets=2)

    groups = {}
    for r in read_dictionary(spark, out).collect():
        groups.setdefault(r["canonical"], set()).add(r["surface"])
    variants = {
        "org:quantum_dynamics_inc",
        "org:quantum_dynamics_corp",
        "org:quantum_dynamics_labs",
    }
    # all three variants share ONE canonical: the first-arrival group root
    assert groups["org:quantum_dynamics_inc"] >= variants

    it, _ = read_incremental_kg(spark, out)
    triples = {(r["subj"], r["pred"], r["obj"]) for r in it.collect()}
    assert ("org:quantum_dynamics_inc", "located_in", "place:berlin") in triples
    assert ("person:alice_smith", "works_for", "org:quantum_dynamics_inc") in triples
    assert ("person:bob_jones", "founded", "org:quantum_dynamics_inc") in triples

    # fast-resume replay: manifest rows present -> skipped wholesale
    n_before = it.count()
    res = construct_batch_incremental(spark, b1, out, batch_id=1, n_buckets=2)
    assert res["skipped"]
    it3, _ = read_incremental_kg(spark, out)
    assert it3.count() == n_before


def test_run_pipeline_incremental_cli(spark, tmp_path, capsys):
    """`run_pipeline.py --incremental` folds new files into the KG and is a
    no-op when nothing new arrived (stream checkpoint)."""
    import json as _json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import run_pipeline

    from kgist_spark.sources.webpages import generate_pages

    stream_in = str(tmp_path / "in")
    out = str(tmp_path / "kg")
    pages = generate_pages(spark, 300, seed=9)
    pages.coalesce(1).write.parquet(stream_in)

    run_pipeline.main(
        ["--incremental", "--input", stream_in, "--out", out, "--buckets", "2"],
        spark=spark,
    )
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "incremental"
    assert rep["n_triples"] > 0
    assert len(rep["batches"]) == 1 and not rep["batches"][0]["skipped"]

    run_pipeline.main(
        ["--incremental", "--input", stream_in, "--out", out, "--buckets", "2"],
        spark=spark,
    )
    rep2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["batches"] == []
    assert rep2["n_triples"] == rep["n_triples"]


def test_incremental_matches_batch_on_alias_corpus(spark, tmp_path):
    """On a corpus with REAL merge work (alias_rate surfaces), incremental
    construction — including cross-batch linking of late-arriving variants
    through the LSH dictionary path — produces the same canonical partition
    and the same normalized KG as one batch rebuild."""
    from kgist_spark.pipeline.run import construct_kg
    from kgist_spark.sources.webpages import World, generate_pages
    from kgist_spark.streaming.construct import (
        read_dictionary,
        read_incremental_kg,
        run_incremental_construct,
    )

    stream_in = str(tmp_path / "in")
    out = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    world = World(42, alias_rate=0.5)
    pages = generate_pages(spark, 2000, seed=42, world=world).cache()
    pages.count()
    docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
    for lo, hi in [(0, 1000), (1000, 2000)]:
        pages.where((docnum >= lo) & (docnum < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stream_in)

    run_incremental_construct(
        spark, stream_in, out, ckpt, n_buckets=4, max_files_per_trigger=1
    )

    igroups = {}
    for r in read_dictionary(spark, out).collect():
        igroups.setdefault(r["canonical"], set()).add(r["surface"])
    imerged = {frozenset(v) for v in igroups.values() if len(v) > 1}

    from kgist_spark.pipeline.canonicalize import canonical_map, entity_vocabulary
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm

    raw = (
        extract_facts_jvm(pages).where("kind = 't'")
        .groupBy("subj", "pred", "obj").agg(F.min("url").alias("url"))
    )
    bgroups = {}
    for r in canonical_map(entity_vocabulary(raw)).collect():
        bgroups.setdefault(r["canonical"], set()).add(r["node"])
    bmerged = {frozenset(v) for v in bgroups.values() if len(v) > 1}
    assert imerged == bmerged and len(imerged) >= 5

    # normalized triples equal (representative = min of group on both sides)
    irep = {c: min(m) for c, m in igroups.items()}
    it, _ = read_incremental_kg(spark, out)
    iset = {
        (irep.get(r["subj"], r["subj"]), r["pred"], irep.get(r["obj"], r["obj"]))
        for r in it.collect()
    }
    bt, _ = construct_kg(spark, pages, out_dir=None)
    bset = {(r["subj"], r["pred"], r["obj"]) for r in bt.collect()}
    assert iset == bset and iset
    pages.unpersist()


def test_indexed_linking_matches_unindexed(spark, tmp_path):
    """The persisted LSH index path and the unindexed link_mentions path
    produce the same links (same hash family -> same candidates), the
    index covers every dictionary surface, and the alias flow works
    through the index across 3 batches."""
    from kgist_spark.sources.webpages import World, generate_pages
    from kgist_spark.streaming.construct import (
        construct_batch_incremental,
        link_entities_to_dictionary,
        read_dictionary,
        read_index,
    )

    out = str(tmp_path / "kg")
    world = World(42, alias_rate=0.5)
    pages = generate_pages(spark, 1200, seed=42, world=world).cache()
    docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
    for i, (lo, hi) in enumerate([(0, 400), (400, 800), (800, 1200)]):
        construct_batch_incremental(
            spark, pages.where((docnum >= lo) & (docnum < hi)), out,
            batch_id=i, n_buckets=2,
        )

    d = read_dictionary(spark, out)
    idx = read_index(spark, out)
    # index covers exactly the dictionary's surfaces
    assert {r["surface"] for r in idx.select("surface").distinct().collect()} \
        == {r["surface"] for r in d.select("surface").collect()}

    # a fresh batch linked with and without the index gives identical maps
    last = pages.where(docnum >= 800)
    from kgist_spark.pipeline.extract_jvm import extract_facts_jvm
    from kgist_spark.pipeline.canonicalize import entity_vocabulary

    raw = (
        extract_facts_jvm(last).where("kind = 't'")
        .groupBy("subj", "pred", "obj").agg(F.min("url").alias("url"))
    )
    ents = entity_vocabulary(raw)
    with_idx = {
        (r["node"], r["canonical"])
        for r in link_entities_to_dictionary(ents, d, dict_index=idx).collect()
    }
    without = {
        (r["node"], r["canonical"])
        for r in link_entities_to_dictionary(ents, d, dict_index=None).collect()
    }
    assert with_idx == without and with_idx
    pages.unpersist()


def test_summarize_incremental_kg_matches_batch(spark, tmp_path):
    """KGist MDL summarization over an incrementally-built KG equals
    summarization over the batch rebuild (same corpus, same groupings ->
    identical rules and bits)."""
    from kgist_spark.pipeline.run import construct_kg, summarize_constructed_kg
    from kgist_spark.sources.webpages import generate_pages
    from kgist_spark.streaming.construct import (
        read_incremental_kg,
        run_incremental_construct,
    )

    stream_in = str(tmp_path / "in")
    out = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 1000, seed=42).cache()
    pages.count()
    docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
    for lo, hi in [(0, 500), (500, 1000)]:
        pages.where((docnum >= lo) & (docnum < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stream_in)
    run_incremental_construct(
        spark, stream_in, out, ckpt, n_buckets=4, max_files_per_trigger=1
    )
    it, il = read_incremental_kg(spark, out)
    _, m_incr = summarize_constructed_kg(it, il)

    bt, bl = construct_kg(spark, pages, out_dir=None)
    _, m_batch = summarize_constructed_kg(bt, bl)

    assert set(m_incr.rules) == set(m_batch.rules) and m_incr.rules
    pages.unpersist()


@pytest.mark.nightly
def test_incremental_vs_batch_fuzz(spark, tmp_path):
    """Seeded sweep: random corpora (with and without alias surfaces) split
    into random batch counts must produce normalized-identical KGs through
    the incremental path.  Nightly: ~8 constructs."""
    from kgist_spark.pipeline.run import construct_kg
    from kgist_spark.sources.webpages import World, generate_pages
    from kgist_spark.streaming.construct import (
        read_dictionary,
        read_incremental_kg,
        run_incremental_construct,
    )

    cases = [
        (101, 0.0, 2), (202, 0.0, 3), (303, 0.5, 2), (404, 0.5, 4),
    ]
    for seed, alias_rate, n_batches in cases:
        base = tmp_path / f"s{seed}"
        world = World(seed, alias_rate=alias_rate)
        n_docs = 900
        pages = generate_pages(spark, n_docs, seed=seed, world=world).cache()
        pages.count()
        docnum = F.regexp_extract("url", r"page/(\d+)$", 1).cast("int")
        step = n_docs // n_batches
        for i in range(n_batches):
            hi = n_docs if i == n_batches - 1 else (i + 1) * step
            pages.where((docnum >= i * step) & (docnum < hi)).coalesce(1) \
                .write.mode("append").parquet(str(base / "in"))
        run_incremental_construct(
            spark, str(base / "in"), str(base / "kg"), str(base / "ckpt"),
            n_buckets=4, max_files_per_trigger=1,
        )
        groups = {}
        for r in read_dictionary(spark, str(base / "kg")).collect():
            groups.setdefault(r["canonical"], set()).add(r["surface"])
        rep = {c: min(m) for c, m in groups.items()}
        it, il = read_incremental_kg(spark, str(base / "kg"))
        iset = {
            (rep.get(r["subj"], r["subj"]), r["pred"], rep.get(r["obj"], r["obj"]))
            for r in it.collect()
        }
        ilabs = {(rep.get(r["node"], r["node"]), r["label"]) for r in il.collect()}
        bt, bl = construct_kg(spark, pages, out_dir=None)
        bset = {(r["subj"], r["pred"], r["obj"]) for r in bt.collect()}
        blabs = {(r["node"], r["label"]) for r in bl.collect()}
        assert iset == bset and iset, f"seed={seed} triples diverged"
        assert ilabs == blabs, f"seed={seed} labels diverged"
        pages.unpersist()


def test_bridge_detection_and_grow_only_linking(spark, tmp_path):
    """A new surface similar to TWO existing (mutually dissimilar) canonical
    groups is a 'bridge': it must link to its single best-scoring group,
    the existing groups must NOT merge, and the batch summary must report
    n_bridges — the operational signal for a periodic batch rebuild."""
    import datetime as dt

    from kgist_spark.streaming.construct import (
        construct_batch_incremental,
        read_dictionary,
    )

    out = str(tmp_path / "kg")

    def pages_df(rows):
        return spark.createDataFrame(
            [(u, dt.datetime(2024, 1, 1), b"", t, "en") for u, t in rows],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    # batch 0: two org groups whose ids are mutually dissimilar (J=0.46)
    a = "Stellar Quantum Dynamics Inc"
    b = "Quantum Dynamics Cascade Inc"
    c = "Stellar Quantum Dynamics Cascade Inc"  # J(a,c)=0.74, J(b,c)=0.70
    r0 = construct_batch_incremental(
        spark,
        pages_df([("u://0", f"{a} is located in Berlin."),
                  ("u://1", f"{b} is located in Oslo.")]),
        out, batch_id=0, n_buckets=2, threshold=0.69,
    )
    assert r0["n_bridges"] == 0
    groups0 = {r["surface"]: r["canonical"]
               for r in read_dictionary(spark, out).collect()}
    ida, idb = "org:stellar_quantum_dynamics_inc", "org:quantum_dynamics_cascade_inc"
    assert groups0[ida] != groups0[idb]  # two distinct groups

    # batch 1: the bridge arrives
    r1 = construct_batch_incremental(
        spark,
        pages_df([("u://2", f"Alice Smith works for {c}.")]),
        out, batch_id=1, n_buckets=2, threshold=0.69,
    )
    assert r1["n_bridges"] == 1
    groups1 = {r["surface"]: r["canonical"]
               for r in read_dictionary(spark, out).collect()}
    idc = "org:stellar_quantum_dynamics_cascade_inc"
    # grow-only: existing groups unchanged, bridge joined the best match (a)
    assert groups1[ida] == groups0[ida] and groups1[idb] == groups0[idb]
    assert groups1[idc] == groups0[ida]


def test_sizes_and_manifest_coverage_guards(spark, tmp_path):
    """Partial side tables must be REFUSED, not silently summed: a KG whose
    early batches predate canon_index_sizes / the canon_dict manifest rows
    falls back to full-index sizing rather than under-counting hot buckets
    or under-estimating the dictionary."""
    import json
    import shutil

    from kgist_spark.streaming.construct import (
        SIZES_DIR,
        construct_batch_incremental,
        dict_size_from_manifest,
        read_dictionary,
        read_index_sizes,
    )

    world = World(42)
    out = str(tmp_path / "kg")
    construct_batch_incremental(
        spark, generate_pages(spark, 120, seed=1, world=world), out, 0, n_buckets=2)
    construct_batch_incremental(
        spark, generate_pages(spark, 90, seed=2, world=world), out, 1, n_buckets=2)

    sizes = read_index_sizes(spark, out)
    assert sizes is not None
    # manifest-driven dictionary size equals the real dictionary row count
    assert dict_size_from_manifest(out) == read_dictionary(spark, out).count()
    # excluding a replayed batch stays covered and consistent
    assert dict_size_from_manifest(out, exclude_batch=1) == \
        read_dictionary(spark, out, exclude_batch=1).count()

    # simulate a pre-sizes KG: batch 0's sizes partition is missing
    shutil.rmtree(f"{out}/{SIZES_DIR}/batch=0")
    assert read_index_sizes(spark, out) is None          # partial -> refuse
    # ...but excluding batch 0 restores full coverage of what remains
    assert read_index_sizes(spark, out, exclude_batch=0) is not None

    # pre-manifest KG: strip the canon_dict rows -> size probe refuses
    mpath = f"{out}/_manifest.json"
    entries = [json.loads(l) for l in open(mpath) if l.strip()]
    with open(mpath, "w") as f:
        for e in entries:
            if e["table"] != "canon_dict":
                f.write(json.dumps(e) + "\n")
    assert dict_size_from_manifest(out) is None


def test_compact_dictionary_state_preserves_content_and_linking(spark, tmp_path):
    """Compaction merges old dict/index/sizes partitions into one partition
    each with IDENTICAL reader-visible content, the manifest size probe
    stays exact, and the next batch links identically to an uncompacted
    twin KG."""
    from kgist_spark.streaming.construct import (
        DICT_DIR,
        INDEX_DIR,
        SIZES_DIR,
        _batch_ids,
        compact_dictionary_state,
        construct_batch_incremental,
        dict_size_from_manifest,
        read_dictionary,
        read_index,
        read_index_sizes,
    )

    world = World(42)
    batches = [generate_pages(spark, n, seed=s, world=world).cache()
               for n, s in ((120, 1), (90, 2), (100, 3), (80, 4))]
    out_a = str(tmp_path / "kg_a")   # compacted
    out_b = str(tmp_path / "kg_b")   # control
    for out in (out_a, out_b):
        for b in range(3):
            construct_batch_incremental(spark, batches[b], out, b, n_buckets=2)

    def snapshot(out):
        d = sorted((r["surface"], r["canonical"])
                   for r in read_dictionary(spark, out).collect())
        ix = sorted((r["surface"], r["band"], r["bucket"])
                    for r in read_index(spark, out).collect())
        sz = sorted(
            (r["band"], r["bucket"], r["n"])
            for r in read_index_sizes(spark, out)
            .groupBy("band", "bucket").agg(F.sum("n").alias("n")).collect()
        )
        return d, ix, sz

    before = snapshot(out_a)
    res = compact_dictionary_state(spark, out_a, keep_last=1)
    assert res["compacted"] == 2 and res["into"] == 1
    for sub in (DICT_DIR, INDEX_DIR, SIZES_DIR):
        assert _batch_ids(f"{out_a}/{sub}") == {1, 2}, sub
    assert snapshot(out_a) == before
    assert dict_size_from_manifest(out_a) == len(before[0])

    # the next batch behaves identically on compacted vs control state
    ra = construct_batch_incremental(spark, batches[3], out_a, 3, n_buckets=2)
    rb = construct_batch_incremental(spark, batches[3], out_b, 3, n_buckets=2)
    assert (ra["new_triples"], ra["n_bridges"]) == (rb["new_triples"], rb["n_bridges"])
    da = sorted((r["surface"], r["canonical"]) for r in read_dictionary(spark, out_a).collect())
    db = sorted((r["surface"], r["canonical"]) for r in read_dictionary(spark, out_b).collect())
    assert da == db


def test_compaction_crash_recovery_and_partial_coverage(spark, tmp_path):
    """(a) keep_last=0 is rejected (the newest batch is still replayable);
    (b) a crash AFTER the write-ahead plan is finished idempotently by the
    next call with identical final state; (c) a side table that does not
    cover the compacted batches has its partials DROPPED, keeping the read
    guards correctly falling back (never a fabricated partial merge)."""
    import json
    import os
    import shutil

    from kgist_spark.streaming.construct import (
        DICT_DIR,
        INDEX_DIR,
        SIZES_DIR,
        _batch_ids,
        compact_dictionary_state,
        construct_batch_incremental,
        dict_size_from_manifest,
        read_dictionary,
        read_index,
        read_index_sizes,
    )

    world = World(42)
    out = str(tmp_path / "kg")
    for b in range(3):
        construct_batch_incremental(
            spark, generate_pages(spark, 80, seed=b + 1, world=world),
            out, b, n_buckets=2)

    with pytest.raises(ValueError, match="keep_last"):
        compact_dictionary_state(spark, out, keep_last=0)

    # simulate a pre-sizes KG: batch 0's sizes partition never existed
    shutil.rmtree(f"{out}/{SIZES_DIR}/batch=0")
    assert read_index_sizes(spark, out) is None
    dict_before = sorted(
        (r["surface"], r["canonical"]) for r in read_dictionary(spark, out).collect()
    )

    # simulate a crash right after the write-ahead plan: run once to get a
    # real plan file, then restore the pre-destructive state and re-finish
    res = compact_dictionary_state(spark, out, keep_last=1)
    assert res["compacted"] == 2 and res["into"] == 1
    # sizes partials were DROPPED (partial coverage), not merged: the table
    # keeps failing the coverage guard instead of faking it
    assert read_index_sizes(spark, out) is None
    assert _batch_ids(f"{out}/{SIZES_DIR}") == {2}
    # dictionary/index merged over the SAME batch set and stay covered
    assert _batch_ids(os.path.join(out, DICT_DIR)) == {1, 2}
    assert read_index(spark, out) is not None
    assert sorted((r["surface"], r["canonical"])
                  for r in read_dictionary(spark, out).collect()) == dict_before
    assert dict_size_from_manifest(out) == len(dict_before)

    # crash-recovery: write a plan file by hand mimicking an interrupted
    # run whose destructive phase never happened (ready dir still staged)
    plan = {"target": 1, "n_old": 2, "dict_rows": len(dict_before),
            "tables": {}}
    with open(f"{out}/_compact_plan.json", "w") as f:
        json.dump(plan, f)
    res2 = compact_dictionary_state(spark, out, keep_last=1)
    assert res2["recovered"] is True
    assert not os.path.exists(f"{out}/_compact_plan.json")
    assert sorted((r["surface"], r["canonical"])
                  for r in read_dictionary(spark, out).collect()) == dict_before


def test_compaction_mid_swap_crash_is_idempotent(spark, tmp_path, monkeypatch):
    """A crash BETWEEN table swaps (after the write-ahead plan, after the
    dictionary's os.replace, during the index's) must be finished by the
    next call with IDENTICAL final content — in particular the already-
    swapped batch=<target> partition (now holding the merged dictionary)
    must never be rmtree'd by the recovery pass.  Also pins: keep_last
    larger than the batch count compacts nothing (no negative slice)."""
    import os as _os

    from kgist_spark.streaming.construct import (
        DICT_DIR,
        INDEX_DIR,
        SIZES_DIR,
        _batch_ids,
        compact_dictionary_state,
        construct_batch_incremental,
        dict_size_from_manifest,
        read_dictionary,
        read_index,
        read_index_sizes,
    )

    world = World(7)
    out = str(tmp_path / "kg")
    for b in range(3):
        construct_batch_incremental(
            spark, generate_pages(spark, 80, seed=b + 1, world=world),
            out, b, n_buckets=2)

    assert compact_dictionary_state(spark, out, keep_last=10) == {
        "compacted": 0, "into": None}

    dict_before = sorted(
        (r["surface"], r["canonical"]) for r in read_dictionary(spark, out).collect()
    )
    # read_index_sizes returns RAW per-batch partials; content equality
    # is over the per-bucket SUM (what every consumer computes)
    def summed_sizes():
        agg = (read_index_sizes(spark, out)
               .groupBy("band", "bucket").agg(F.sum("n").alias("n")))
        return sorted((r["band"], r["bucket"], r["n"]) for r in agg.collect())

    sizes_before = summed_sizes()

    # crash injection: the index table's swap dies mid-flight (the plan and
    # the dictionary swap have already happened)
    real_replace = _os.replace

    def dying_replace(src, dst):
        if f"{INDEX_DIR}/batch=" in str(dst).replace("\\", "/"):
            raise RuntimeError("injected crash during index swap")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", dying_replace)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_dictionary_state(spark, out, keep_last=1)
    monkeypatch.setattr(_os, "replace", real_replace)

    # state after the simulated crash: plan file present, dictionary swap
    # consumed its staging dir, index staging dir still waiting
    assert _os.path.exists(f"{out}/_compact_plan.json")
    assert not _os.path.isdir(f"{out}/{DICT_DIR}._compact_ready")
    assert _os.path.isdir(f"{out}/{INDEX_DIR}._compact_ready")

    res = compact_dictionary_state(spark, out, keep_last=1)
    assert res["recovered"] is True and res["into"] == 1
    assert not _os.path.exists(f"{out}/_compact_plan.json")
    for sub in (DICT_DIR, INDEX_DIR, SIZES_DIR):
        assert _batch_ids(f"{out}/{sub}") == {1, 2}, sub
    assert sorted((r["surface"], r["canonical"])
                  for r in read_dictionary(spark, out).collect()) == dict_before
    assert read_index(spark, out) is not None
    assert summed_sizes() == sizes_before
    assert dict_size_from_manifest(out) == len(dict_before)


def test_compact_cli_rejects_other_flags_even_falsy():
    """--compact is standalone; --generate 0 must not slip past the guard
    through int falsiness."""
    from run_pipeline import main

    with pytest.raises(SystemExit):
        main(["--compact", "--generate", "0", "--out", "/tmp/nowhere"])


def test_cli_rejects_flags_its_mode_ignores():
    """--no-canonicalize under --incremental and --checkpoint without
    --incremental are errors, not silently ignored flags."""
    from run_pipeline import main

    with pytest.raises(SystemExit) as exc:
        main(["--incremental", "--no-canonicalize", "--input", "/tmp/nowhere",
              "--out", "/tmp/nowhere"])
    assert exc.value.code == 2
    with pytest.raises(SystemExit) as exc:
        main(["--generate", "10", "--checkpoint", "/tmp/nowhere",
              "--out", "/tmp/nowhere"])
    assert exc.value.code == 2
