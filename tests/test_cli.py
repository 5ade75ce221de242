import json
import os

import pytest


def _write_corpus(root):
    docs = root / "docs"
    docs.mkdir()
    (docs / "manual.md").write_text(
        "---\nurl: https://docs.example.com/zyranex\n"
        'title: "Zyranex T7 Manual"\n---\n'
        "# Zyranex T7\n\nError ZRX-4401 means the quorbitex module overheated."
    )
    (docs / "notes.md").write_text("# Notes\n\nRoutine service information here.")
    return str(docs)


def test_cli_build_and_query_roundtrip(spark, tmp_path, capsys):
    from rag_content_spark.cli import main

    docs = _write_corpus(tmp_path)
    out = str(tmp_path / "out")
    rc = main(["build", "-f", docs, "-o", out, "-i", "test-idx", "-c", "16", "--dim", "32"])
    assert rc == 0
    built = capsys.readouterr().out.strip().splitlines()[-1]
    meta = json.loads(built)
    assert meta["index-id"] == "test-idx" and meta["total-embedded-files"] == 2
    assert os.path.exists(os.path.join(out, "index"))
    assert os.path.exists(os.path.join(out, "metadata.json"))
    assert os.path.exists(os.path.join(out, "llama-stack.yaml"))
    assert os.path.exists(os.path.join(out, "lightspeed-stack.yaml"))

    rc = main(["query", "-d", out, "-q", "Zyranex error ZRX-4401", "-k", "3"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["top_k"] == 3 and len(res["nodes"]) == 3
    assert any("Zyranex" in n["text"] or "ZRX-4401" in n["text"] for n in res["nodes"])

    node_id = res["nodes"][0]["id"]
    rc = main(["query", "-d", out, "-n", node_id])
    assert rc == 0
    node = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert node["found"] and node["node"]["chunk_id"] == node_id


def test_cli_high_threshold_empty(spark, tmp_path, capsys):
    from rag_content_spark.cli import main

    docs = _write_corpus(tmp_path)
    out = str(tmp_path / "out2")
    main(["build", "-f", docs, "-o", out, "-c", "16", "--dim", "32"])
    capsys.readouterr()
    main(["query", "-d", out, "-q", "anything", "-k", "3", "-t", "0.9999"])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["nodes"] == []


def test_cli_keyword_and_hybrid_modes(spark, tmp_path, capsys):
    from rag_content_spark.cli import main

    docs = _write_corpus(tmp_path)
    out = str(tmp_path / "out3")
    main(["build", "-f", docs, "-o", out, "-c", "16", "--dim", "32"])
    capsys.readouterr()
    main(["query", "-d", out, "-q", "quorbitex module", "-k", "2", "-m", "keyword"])
    kw = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert kw["mode"] == "keyword" and kw["nodes"]
    assert any("quorbitex" in n["text"] for n in kw["nodes"])
    main(["query", "-d", out, "-q", "quorbitex module", "-k", "2", "-m", "hybrid"])
    hy = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hy["mode"] == "hybrid" and len(hy["nodes"]) == 2


def test_cli_sql_over_index_and_tables(spark, tmp_path, capsys):
    from rag_content_spark.cli import main

    docs = _write_corpus(tmp_path)
    out = str(tmp_path / "out4")
    main(["build", "-f", docs, "-o", out, "-c", "16", "--dim", "32"])
    capsys.readouterr()
    rc = main(
        [
            "sql",
            "-d",
            out,
            "--tables",
            "/root/testdata/sf0.001",
            "-e",
            "SELECT (SELECT count(*) FROM chunks) AS n_chunks, "
            "(SELECT count(*) FROM documents) AS n_docs",
        ]
    )
    assert rc == 0
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert row["n_chunks"] > 0 and row["n_docs"] == 500


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    import json

    from pyspark.sql import functions as F

    from rag_content_spark.cli import main

    # corpus with: a good doc, its exact dup, a degenerate doc (gate
    # drops), in two languages for the mix stage
    base = (
        "The quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest while the morning light rises slowly. "
    ) * 6
    rows = [
        (1, base + "alpha", "en"),
        (2, base + "alpha", "en"),            # exact dup of 1
        (3, base + "beta variation", "en"),
        (4, "!!!! ???? ....", "en"),          # degenerate -> gate drops
        (5, base + "gamma", "es"),
        (6, base + "delta", "es"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main([
        "curate", "-i", src, "-o", out,
        "--near-dedup", "--mix", "en=0.5,es=0.5", "--pack-budget", "64",
    ])
    assert rc == 0
    stats = json.load(open(f"{out}/stats.json"))
    assert stats["input"] == 6
    assert stats["after_quality_gate"] == 5          # degenerate dropped
    assert stats["after_exact_dedup"] == 4           # dup of 1 dropped
    assert stats["output"] == stats[list(stats)[-2]]  # final == last stage
    # the LSH bucket cap is DEFAULT-ON and its overflow report is always
    # visible in stats.json (zero-filled when nothing truncates)
    assert stats["lsh_overflow"]["max_bucket_size"] == 1000
    assert stats["lsh_overflow"]["n_dropped_ids"] == 0
    curated = spark.read.parquet(f"{out}/curated")
    assert {"doc_id", "text", "lang", "shard", "seq_bucket"} <= set(curated.columns)
    assert 2 not in {r["doc_id"] for r in curated.select("doc_id").collect()}


def test_cli_curate_dsir_select(spark, tmp_path, capsys):
    import json

    from rag_content_spark.cli import main

    filler = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest while the morning light rises slowly "
    )
    techy = (
        "the vector index retrieval engine ranks documents by cosine "
        "score and returns the top results to the search query quickly "
    )
    rows = [(i, (techy if i < 3 else filler) * 6 + f"doc{i}", "en") for i in range(8)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(src)
    tgt = str(tmp_path / "target.parquet")
    spark.createDataFrame(
        [(100 + i, techy * 6 + f"t{i}", "en") for i in range(3)],
        ["doc_id", "text", "lang"],
    ).write.parquet(tgt)

    out = str(tmp_path / "out")
    rc = main([
        "curate", "-i", src, "-o", out,
        "--dsir-target", tgt, "--dsir-keep", "3", "--pack-budget", "64",
    ])
    assert rc == 0
    stats = json.load(open(f"{out}/stats.json"))
    assert stats["after_dsir_select"] == 3
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/curated").select("doc_id").collect()
    }
    # the target-like docs win the importance resample
    assert kept == {0, 1, 2}


def test_cli_curate_warc_input(spark, tmp_path):
    import gzip

    from rag_content_spark.cli import main
    from tests.test_warc import _http_response, _record

    body = (
        "<html><body><p>"
        + ("the quick brown fox jumps over the lazy dog and runs far " * 10)
        + "</p></body></html>"
    ).encode()
    warc = _record(
        "response",
        "http://example.com/a",
        _http_response(body),
        extra="Content-Type: application/http\r\n",
    )
    src = tmp_path / "crawl"
    src.mkdir()
    (src / "a.warc.gz").write_bytes(gzip.compress(warc))
    out = str(tmp_path / "out")
    rc = main([
        "curate", "-i", str(src), "-o", out,
        "--input-format", "warc", "--pack-budget", "64",
    ])
    assert rc == 0
    curated = spark.read.parquet(f"{out}/curated")
    assert curated.count() == 1
    assert curated.collect()[0]["source"] == "http://example.com/a"


_PROSE = (
    "the a of and to with that be data query vector stream window merge "
    "table column value join filter group hash order sort key scan batch"
).split()


def _prose(seed, n=60):
    import random

    rng = random.Random(seed)
    return " ".join(rng.choice(_PROSE) for _ in range(n))


def _write_parity_input(spark, root, flag):
    """Input for one parity case. The parquet corpora plant an exact and
    a near duplicate, the WARC crawl an exact one. The scrub corpus
    shares a boilerplate passage instead, since scrubbing an exact
    duplicate leaves a doc with no tokens."""
    if flag == "warc":
        import gzip

        from tests.test_warc import _http_response, _record

        src = root / "crawl"
        src.mkdir()
        texts = [_prose(i) for i in range(6)] + [_prose(0), "!!!! ???? ...."]
        for i, text in enumerate(texts):
            body = f"<html><body><p>{text}</p></body></html>".encode()
            rec = _record("response", f"http://example.com/{i}",
                          _http_response(body),
                          extra="Content-Type: application/http\r\n")
            (src / f"{i}.warc.gz").write_bytes(gzip.compress(rec))
        return str(src)
    langs = ["en", "es", "fr"]
    if flag == "scrub":
        boiler = "copyright the data team all rights reserved see the terms of use"
        rows = [(i, f"{boiler} {_prose(i)}", langs[i % 3]) for i in range(8)]
    else:
        rows = [(i, _prose(i), langs[i % 3]) for i in range(10)]
        rows += [
            (10, _prose(1), "es"),                    # exact dup of 1
            (11, _prose(2, 59) + " merge", "fr"),     # near dup of 2
        ]
        if flag == "binding_cap":
            # two more near dups of 2: band buckets of 4 ids
            rows += [(12, _prose(2, 59) + " table", "en"),
                     (13, _prose(2, 59) + " scan", "es")]
    rows.append((99, "!!!! ???? ....", "en"))         # gate drops
    src = str(root / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(src)
    return src


def _stage_counts(spark, src, flags):
    """stats.json for ``curate`` as ``.count()``s of each stage, composed
    from the public operators the way the command composes them, plus
    the frame the command writes."""
    from pyspark.sql import functions as F

    from rag_content_spark.operators.dedup import (
        apply_dedup,
        exact_dedup,
        jaccard_pairs,
        minhash_lsh_candidates,
        minhash_lsh_overflow,
        overflow_summary,
        remove_crossdoc_passages,
    )
    from rag_content_spark.operators.packing import pack_sequences
    from rag_content_spark.operators.quality import gopher_rules, rebalance_to_mix
    from rag_content_spark.operators.selection import dsir_select
    from rag_content_spark.sources.warc import (
        read_warc_records,
        warc_responses_to_documents,
    )

    opt = dict(zip(flags, flags[1:] + [None]))  # flag -> the token after it
    if opt.get("--input-format") == "warc":
        docs = warc_responses_to_documents(read_warc_records(spark, src))
    else:
        docs = spark.read.parquet(src)
    exp = {"input": docs.count()}
    if "--scrub-passages" in flags:
        scrubbed = remove_crossdoc_passages(docs)
        docs = docs.drop("text").join(
            scrubbed.select("doc_id", F.col("clean_text").alias("text")), "doc_id"
        )
    gated = docs.filter(gopher_rules("text")["keep"])
    exp["after_quality_gate"] = gated.count()
    deduped = gated.join(
        exact_dedup(gated).select(F.col("keep_id").alias("doc_id")),
        "doc_id",
        "leftsemi",
    )
    exp["after_exact_dedup"] = deduped.count()
    if "--near-dedup" in flags:
        cap = int(opt.get("--max-bucket-size", 1000)) or None
        cand = minhash_lsh_candidates(deduped, max_bucket_size=cap)
        if cap:
            row = overflow_summary(minhash_lsh_overflow(deduped, cap)).collect()[0]
            exp["lsh_overflow"] = {"max_bucket_size": cap, **row.asDict()}
        deduped = apply_dedup(deduped, jaccard_pairs(deduped, cand, threshold=0.7))
        exp["after_near_dedup"] = deduped.count()
    if "--dsir-target" in opt:
        k = int(opt.get("--dsir-keep", 0)) or max(1, exp["after_exact_dedup"] // 2)
        sel = dsir_select(deduped, spark.read.parquet(opt["--dsir-target"]), k=k)
        deduped = deduped.join(sel.select("doc_id"), "doc_id", "leftsemi")
        exp["after_dsir_select"] = deduped.count()
    if "--mix" in opt:
        mix = {k: float(v) for k, v in (kv.split("=") for kv in opt["--mix"].split(","))}
        deduped = rebalance_to_mix(deduped, mix)
        exp["after_rebalance"] = deduped.count()
    out = pack_sequences(deduped, budget=64).join(
        deduped.select("doc_id", *[c for c in deduped.columns if c != "doc_id"]),
        "doc_id",
    )
    exp["output"] = out.count()
    return exp, out


@pytest.mark.parametrize(
    "flag",
    ["near_mix", "dsir", "dsir_default_k", "scrub", "warc", "no_bucket_cap",
     "binding_cap"],
)
def test_cli_curate_stats_parity(spark, tmp_path, flag):
    """Every stats.json value equals a ``.count()`` of the same stage, in
    the old key order with ``output`` last, and the written rows and
    packing slots equal the lazily composed plan's. The cases cover an
    observed frame consumed twice (the scrub self-join; packing plus the
    join-back) and one under DSIR's ``orderBy().limit()``."""
    from rag_content_spark.cli import main

    src = _write_parity_input(spark, tmp_path, flag)
    flags = {
        "near_mix": ["--near-dedup", "--mix", "en=0.5,es=0.25,fr=0.25"],
        "dsir": ["--dsir-target", src, "--dsir-keep", "4"],
        "dsir_default_k": ["--dsir-target", src, "--near-dedup"],
        "scrub": ["--scrub-passages", "--near-dedup"],
        "warc": ["--input-format", "warc", "--near-dedup"],
        "no_bucket_cap": ["--near-dedup", "--max-bucket-size", "0"],
        "binding_cap": ["--near-dedup", "--max-bucket-size", "2"],
    }[flag]
    out = str(tmp_path / "out")
    assert main(["curate", "-i", src, "-o", out, "--pack-budget", "64", *flags]) == 0
    stats = json.load(open(f"{out}/stats.json"))
    exp, frame = _stage_counts(spark, src, flags)
    assert list(stats) == list(exp) and list(stats)[-1] == "output"
    assert stats == exp
    if flag == "binding_cap":
        assert stats["lsh_overflow"]["n_dropped_ids"] > 0
    cols = ["doc_id", "shard", "seq_bucket"]
    written = spark.read.parquet(f"{out}/curated").select(*cols).collect()
    assert sorted(written) == sorted(frame.select(*cols).collect())


def test_cli_curate_near_dedup_job_budget(spark, tmp_path):
    """One ``curate --near-dedup`` call runs at most 15 Spark jobs: each
    doc is shingled once into one checkpointed band table, the overflow
    report rides the band-bucket aggregate, and packing reads the
    near-deduped checkpoint instead of probing a shuffled plan."""
    from rag_content_spark.cli import main
    from tests.test_serve_reads import _jobs

    src = _write_parity_input(spark, tmp_path, "near_mix")
    out = str(tmp_path / "out")
    with _jobs(spark) as ids:
        assert main(["curate", "-i", src, "-o", out, "--near-dedup"]) == 0
    stats = json.load(open(f"{out}/stats.json"))
    assert stats["after_near_dedup"] < stats["after_exact_dedup"]
    assert len(ids) <= 15, len(ids)


@pytest.mark.parametrize("kind", ["empty", "gated_out"])
def test_cli_curate_empty_result(spark, tmp_path, kind):
    """An empty input, or one the Gopher gate drops whole, exits 0 with
    zero counts instead of failing to read back an empty output."""
    from rag_content_spark.cli import main

    rows = [] if kind == "empty" else [(i, "!!!! ???? ....", "en") for i in range(5)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "out")
    assert main(["curate", "-i", src, "-o", out, "--near-dedup", "--mix", "en=1.0"]) == 0
    stats = json.load(open(f"{out}/stats.json"))
    assert stats.pop("input") == len(rows)
    assert stats.pop("lsh_overflow")["n_dropped_ids"] == 0
    assert stats == {
        "after_quality_gate": 0,
        "after_exact_dedup": 0,
        "after_near_dedup": 0,
        "after_rebalance": 0,
        "output": 0,
    }


def test_cli_curate_scrub_exact_duplicate(spark, tmp_path):
    """Scrubbing an exact-duplicate pair leaves a document with no
    tokens; the Gopher gate drops it instead of failing the job with
    DIVIDE_BY_ZERO."""
    from rag_content_spark.cli import main

    rows = [(i, _prose(i), "en") for i in range(6)] + [(6, _prose(0), "en")]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(src)
    out = str(tmp_path / "out")
    assert main(["curate", "-i", src, "-o", out, "--scrub-passages"]) == 0
    stats = json.load(open(f"{out}/stats.json"))
    assert stats["input"] == 7
    # both copies scrub to nothing and the gate drops them
    assert stats["after_quality_gate"] == stats["output"] == 5


def test_cli_ann_build_and_query(spark, tmp_path, capsys):
    import json

    from rag_content_spark.cli import main

    idx_dir = str(tmp_path / "annix")
    rc = main([
        "ann-build", "-i", "/root/testdata/sf0.001/embeddings.parquet",
        "-o", idx_dir, "--nlist", "8", "--m", "4", "--k", "16",
    ])
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["nlist"] == 8 and meta["n_vectors"] > 0

    rc = main([
        "ann-query", "-d", idx_dir, "--vec-id", "3", "-k", "5",
        "--n-probe", "2",
    ])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows[0]["vec_id"] == 3 and rows[0]["exact"] == 0.0
    assert len(rows) == 5


def test_cli_datasheet(spark, tmp_path, capsys):
    import json

    from rag_content_spark.cli import main

    from rag_content_spark.operators.quality import gopher_rules

    base = "the quick brown fox jumps to be sure of the answer and that " * 10
    rows = [
        (1, base, "en"), (2, base, "en"), (3, base + "x", "fr"),
        (4, "!!!! ???? ....", "en"),                     # gate drops
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(src)
    rc = main(["datasheet", "-i", src])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 4
    assert abs(out["exact_dup_rate"] - 1 / 4) < 1e-6   # one exact dup
    assert out["langs"] == {"en": 3, "fr": 1}
    assert out["gopher_keep_rate"] == 0.75
    # the keep rate folded into the base aggregate equals the old
    # separate filtered count
    docs = spark.read.parquet(src)
    assert out["gopher_keep_rate"] == round(
        docs.filter(gopher_rules("text")["keep"]).count() / docs.count(), 6
    )


def test_cli_table_lifecycle(spark, tmp_path, capsys):
    import json

    from rag_content_spark.cli import main

    src1 = str(tmp_path / "v1.parquet")
    src2 = str(tmp_path / "v2.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"]).write.parquet(src1)
    spark.createDataFrame([(2, "b2")], ["doc_id", "text"]).write.parquet(src2)
    t = str(tmp_path / "tbl")

    assert main(["table", "snapshot", "-t", t, "-i", src1,
                 "--mode", "upsert", "--key", "doc_id"]) == 0
    assert main(["table", "snapshot", "-t", t, "-i", src2,
                 "--mode", "upsert", "--key", "doc_id"]) == 0
    capsys.readouterr()

    assert main(["table", "log", "-t", t]) == 0
    log = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert [s["version"] for s in log] == [1, 2]

    out = str(tmp_path / "view.parquet")
    assert main(["table", "read", "-t", t, "-o", out]) == 0
    view = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert view == {1: "a", 2: "b2"}

    capsys.readouterr()
    assert main(["table", "compact", "-t", t]) == 0
    assert json.loads(capsys.readouterr().out.strip())["version"] == 3


def test_cli_export_hf_and_table_delete_vacuum(spark, tmp_path):
    import json as _json
    import subprocess
    import sys

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], ["doc_id", "text"]
    ).write.parquet(src)

    def run(*args):
        r = subprocess.run(
            [sys.executable, "-m", "rag_content_spark.cli", *args],
            capture_output=True, text=True, timeout=240,
            cwd="/root/repo",
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout

    out = run(
        "export", "-i", src, "-o", str(tmp_path / "hf"),
        "--format", "hf", "--shards", "2", "--key", "doc_id",
    )
    rows = [_json.loads(l) for l in out.strip().splitlines() if l.startswith("{")]
    assert sum(r["n_rows"] for r in rows) == 20
    assert (tmp_path / "hf" / "dataset_info.json").exists()

    t = str(tmp_path / "tbl")
    run("table", "snapshot", "-t", t, "-i", src, "--mode", "upsert", "--key", "doc_id")
    # delete doc_ids 0..4 via a keys parquet
    keys = str(tmp_path / "del.parquet")
    spark.createDataFrame([(i,) for i in range(5)], ["doc_id"]).write.parquet(keys)
    run("table", "snapshot", "-t", t, "-i", keys, "--mode", "delete", "--key", "doc_id")
    out = run("table", "read", "-t", t, "--limit", "100")
    ids = {_json.loads(l)["doc_id"] for l in out.strip().splitlines() if l.startswith("{")}
    assert ids == set(range(5, 20))
    run("table", "compact", "-t", t)
    out = run("table", "vacuum", "-t", t)
    assert _json.loads(out.strip().splitlines()[-1])["removed"] == 2


def test_cli_text_and_ann_compact(spark, tmp_path, capsys):
    import json as _json

    from rag_content_spark import cli

    docs = "/root/testdata/sf0.001/documents.parquet"
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    tdir = str(tmp_path / "ti")
    adir = str(tmp_path / "ai")
    assert cli.main(["text-build", "-i", docs, "-o", tdir, "--buckets", "4"]) == 0
    assert cli.main(["text-add", "-i", docs, "-d", tdir]) == 0
    capsys.readouterr()
    assert cli.main(["text-compact", "-d", tdir]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_files_after"] < stats["n_files_before"]

    assert cli.main(["ann-build", "-i", emb, "-o", adir]) == 0
    capsys.readouterr()
    assert cli.main(["ann-compact", "-d", adir]) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_rows"] > 0


def test_cli_convert_single_file(tmp_path, capsys):
    """The one-file conversion ergonomics (reference html/pdf/asciidoc
    __main__.py): html -> markdown downgrade, asciidoc -> text contract,
    asciidoc --structure dump, -o file output."""
    from rag_content_spark.cli import main

    html = tmp_path / "page.html"
    html.write_text("<html><body><h1>Title</h1><p>Body text.</p></body></html>")
    assert main(["convert", "-i", str(html)]) == 0
    out = capsys.readouterr().out
    assert "# Title" in out and "Body text." in out

    adoc = tmp_path / "doc.adoc"
    adoc.write_text("= Top\n\nSome paragraph.\n\n== Section\n\n* item one\n")
    dest = tmp_path / "doc.txt"
    assert main(["convert", "-i", str(adoc), "-o", str(dest)]) == 0
    text = dest.read_text()
    assert "Some paragraph." in text and "item one" in text

    assert main(["convert", "-i", str(adoc), "--structure"]) == 0
    structure = capsys.readouterr().out
    assert "document" in structure.lower() or "section" in structure.lower()


def test_cli_index_delete_roundtrip(tmp_path, capsys, spark):
    """text-build -> text-delete --ids -> text-query excludes the
    deleted doc; ann-delete mirrors it."""
    import json as _json

    from rag_content_spark.cli import main

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs.parquet")
    docs.select("doc_id", "text").write.parquet(src)
    idx = str(tmp_path / "tidx")
    assert main(["text-build", "-i", src, "-o", idx, "--buckets", "8"]) == 0
    victim = docs.limit(1).collect()[0]["doc_id"]
    capsys.readouterr()
    assert main(["text-delete", "-d", idx, "--ids", str(victim)]) == 0
    meta = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["n_docs"] == docs.count() - 1


def test_cli_faiss_import(tmp_path, capsys, spark):
    import json as _json

    from rag_content_spark.cli import main
    from rag_content_spark.sinks.exports import export_faiss

    rows = [("x", [1.0, 0.0]), ("y", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "chunk_id string, embedding array<float>")
    fpath = str(tmp_path / "store.faiss")
    export_faiss(df, fpath)
    out = str(tmp_path / "imported")
    assert main(["faiss-import", "-i", fpath, "-o", out]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 2
    back = {
        r["chunk_id"]: list(r["embedding"])
        for r in spark.read.parquet(out).collect()
    }
    assert back == dict(rows)
