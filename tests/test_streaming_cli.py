from __future__ import annotations

import json
import subprocess
import sys
from datetime import datetime, timedelta
from pathlib import Path

from nebula_importer_spark.streaming.events import (
    dedup_stream,
    read_event_stream,
    run_stream_to_parquet,
    windowed_event_counts,
)

REPO = Path(__file__).resolve().parent.parent


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.coalesce(1).write.mode("append").parquet(str(path))


def test_streaming_windowed_counts(spark, tmp_path):
    t0 = datetime(2026, 1, 1, 0, 0, 0)
    indir, outdir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    rows = [
        (1, t0 + timedelta(minutes=5), 1, "click", 1.0, ""),
        (2, t0 + timedelta(minutes=50), 2, "click", 2.0, ""),
        (3, t0 + timedelta(hours=1, minutes=5), 3, "view", 3.0, ""),
        # a row far ahead advances the watermark past the first windows
        (4, t0 + timedelta(hours=10), 4, "click", 4.0, ""),
    ]
    _write_events(spark, indir, rows)
    q = run_stream_to_parquet(
        spark, str(indir), str(outdir), str(ckpt), window="1 hour", watermark="2 hours"
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].isoformat(), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(str(outdir)).collect()
    }
    # append mode emits only windows finalized by the watermark (hour 0 and 1)
    assert got[("2026-01-01T00:00:00", "click")] == 2
    assert got[("2026-01-01T01:00:00", "view")] == 1

    # resume from checkpoint: new file → only NEW finalized windows appended
    _write_events(
        spark, indir,
        [(5, t0 + timedelta(hours=11), 5, "view", 5.0, ""),
         (6, t0 + timedelta(hours=24), 6, "click", 6.0, "")],
    )
    q2 = run_stream_to_parquet(
        spark, str(indir), str(outdir), str(ckpt), window="1 hour", watermark="2 hours"
    )
    q2.awaitTermination(120)
    got2 = {
        (r["window_start"].isoformat(), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(str(outdir)).collect()
    }
    assert got2[("2026-01-01T10:00:00", "click")] == 1  # finalized by the 24h row
    assert len(got2) > len(got)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Replayed event_ids inside the watermark horizon are suppressed at
    ingest (bounded-state streaming twin of batch exact_dedup)."""
    t0 = datetime(2026, 1, 1, 0, 0, 0)
    indir, outdir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    rows = [
        (1, t0, 1, "click", 1.0, ""),
        (1, t0 + timedelta(minutes=1), 1, "click", 1.0, ""),  # replay of id 1
        (2, t0 + timedelta(minutes=2), 2, "view", 2.0, ""),
        (2, t0 + timedelta(minutes=3), 2, "view", 2.0, ""),  # replay of id 2
        (3, t0 + timedelta(hours=5), 3, "click", 3.0, ""),
    ]
    _write_events(spark, indir, rows)
    deduped = dedup_stream(read_event_stream(spark, str(indir)), keys=["event_id"])
    q = (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(outdir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.read.parquet(str(outdir)).collect())
    assert got == [1, 2, 3]


def test_cli_import_and_exit_codes(tmp_path):
    data = tmp_path / "p.csv"
    data.write_text("a,Ann\nb,Bob\n")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        """
manager: {spaceName: clitest}
sources:
  - path: %s
    tags:
      - name: person
        id: {type: STRING, index: 0}
        props: [{name: name, type: STRING, index: 1}]
"""
        % data
    )
    out = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "import",
         "-c", str(cfg), "-o", str(tmp_path / "out"), "--master", "local[2]"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout[out.stdout.index("{"):])
    assert payload["total_written"] == 2 and not payload["failed"]

    # malformed row → rejects → nonzero exit (M4 semantics)
    data.write_text('a,Ann\n"broken,row\n')
    out2 = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "import",
         "-c", str(cfg), "-o", str(tmp_path / "out2"), "--master", "local[2]"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out2.returncode == 1


def test_cli_version_flag():
    """--version prints the build-info banner and exits 0 (reference
    pkg/cmd/nebula-importer.go:81-86 cobra version flag)."""
    out = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "--version"],
        capture_output=True, text=True, cwd=REPO, timeout=60,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "nebula_importer_spark version" in out.stdout
    assert "pyspark:" in out.stdout and "platform:" in out.stdout


def test_client_ssl_block_accepted(tmp_path, caplog):
    """client.ssl (reference pkg/config/base/client.go:32-40) parses
    cleanly — accepted and noted as inert, never an error."""
    import logging

    from nebula_importer_spark.config.parse import load_config

    cfg = tmp_path / "ssl.yaml"
    cfg.write_text(
        """
client:
  version: v3
  ssl:
    enable: true
    certPath: /c.pem
    keyPath: /k.pem
    caPath: /ca.pem
manager: {spaceName: ssltest}
sources:
  - path: x.csv
    tags:
      - name: t
        id: {type: STRING, index: 0}
        props: []
"""
    )
    with caplog.at_level(logging.INFO, logger="nebula_importer_spark"):
        parsed = load_config(cfg)
    assert parsed.space == "ssltest"
    assert any("ssl" in r.message for r in caplog.records)


def test_sessionize_timeout_boundary_is_strict(spark, tmp_path):
    """Event-time timeout fires only when timeout_ts < final watermark,
    STRICTLY: a session whose (last_event + gap) equals the watermark does
    NOT emit, one 1 ms below does. The stream_sessionize driver oracle's
    cutoff comparison encodes exactly this — if Spark's semantics ever
    shift to <=, this test and that oracle fail together."""
    from nebula_importer_spark.streaming.events import drain_to_memory, sessionize

    t0 = datetime(2026, 1, 1, 0, 0, 0)
    indir = tmp_path / "bnd"
    rows = [
        # timeout = t0 + 30min == watermark (pusher at t0+2.5h) → held
        (1, t0, 1, "click", 1.0, ""),
        # timeout = watermark - 1ms → emitted
        (2, t0 - timedelta(milliseconds=1), 2, "click", 1.0, ""),
        (3, t0 + timedelta(hours=2, minutes=30), 9, "view", 0.0, ""),
    ]
    _write_events(spark, indir, rows)
    out = drain_to_memory(
        sessionize(
            read_event_stream(spark, str(indir)), gap="30 minutes", watermark="2 hours"
        ),
        "t_sess_boundary",
        checkpoint_dir=str(tmp_path / "bnd_ck"),
    )
    assert sorted(r["user_id"] for r in out.collect()) == [2]


def test_sessionize_stateful(spark, tmp_path):
    from nebula_importer_spark.streaming.events import read_event_stream, sessionize

    t0 = datetime(2026, 1, 1, 0, 0, 0)
    indir, outdir, ckpt = tmp_path / "sin", tmp_path / "sout", tmp_path / "sckpt"
    rows = [
        # user 1: two sessions separated by a >30min gap
        (1, t0, 1, "click", 1.0, ""),
        (2, t0 + timedelta(minutes=10), 1, "click", 2.0, ""),
        (3, t0 + timedelta(hours=1), 1, "view", 3.0, ""),
        # user 2: one session
        (4, t0 + timedelta(minutes=1), 2, "click", 4.0, ""),
        # watermark pusher far in the future closes everything
        (5, t0 + timedelta(days=2), 9, "view", 0.0, ""),
    ]
    _write_events(spark, indir, rows)
    q = (
        sessionize(read_event_stream(spark, str(indir)), gap="30 minutes", watermark="1 minutes")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(outdir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"].isoformat()): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(outdir)).collect()
    }
    assert got[(1, "2026-01-01T00:00:00")] == (2, 3.0)  # first session: 2 events
    assert got[(1, "2026-01-01T01:00:00")] == (1, 3.0)  # second session
    assert got[(2, "2026-01-01T00:01:00")] == (1, 4.0)


def test_sessionize_multi_chunk_group(spark, tmp_path):
    """A key whose micro-batch rows span MULTIPLE Arrow chunks must still be
    processed in (ts, event_id) order — per-chunk sorting interleaves events
    across chunk boundaries and splits/merges sessions wrongly (review
    finding). Forced here with a tiny maxRecordsPerBatch and reversed
    arrival order."""
    from nebula_importer_spark.streaming.events import read_event_stream, sessionize

    t0 = datetime(2026, 1, 1, 0, 0, 0)
    indir, outdir, ckpt = tmp_path / "cin", tmp_path / "cout", tmp_path / "cckpt"
    # 120 events 1 min apart (one session), written in DESCENDING ts order so
    # chunk k holds later events than chunk k+1 → per-chunk sorting would
    # see time going backwards between chunks and fabricate huge gaps.
    rows = [
        (i, t0 + timedelta(minutes=119 - i), 1, "click", 1.0, "")
        for i in range(120)
    ]
    rows.append((999, t0 + timedelta(days=2), 9, "view", 0.0, ""))
    _write_events(spark, indir, rows)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "32")
    try:
        q = (
            sessionize(
                read_event_stream(spark, str(indir)),
                gap="30 minutes",
                watermark="1 minutes",
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(outdir))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = [
        r
        for r in spark.read.parquet(str(outdir)).collect()
        if r["user_id"] == 1
    ]
    # exactly ONE session covering all 120 events
    assert len(got) == 1
    assert got[0]["n_events"] == 120
    assert got[0]["session_start"].isoformat() == "2026-01-01T00:00:00"
    assert got[0]["session_end"].isoformat() == "2026-01-01T01:59:00"


def test_cli_statements_renders_ngql_files(tmp_path):
    data = tmp_path / "p.csv"
    data.write_text("a,Ann\nb,Bob\n")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        """
manager: {spaceName: clistmt}
sources:
  - path: %s
    tags:
      - name: person
        id: {type: STRING, index: 0}
        props: [{name: name, type: STRING, index: 1}]
"""
        % data
    )
    out = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "statements",
         "-c", str(cfg), "-o", str(tmp_path / "st"), "--master", "local[2]"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    text = "".join(
        p.read_text()
        for p in (tmp_path / "st" / "tags" / "person.ngql").glob("part-*")
    )
    assert "INSERT VERTEX IGNORE_EXISTED_INDEX `person`(`name`) VALUES " in text
    assert '"a":("Ann")' in text and '"b":("Bob")' in text


def test_cli_sniff_prints_loadable_config(tmp_path):
    """`sniff` prints a sources: block that load_config parses and that
    `import` then runs clean — the full draft-a-config workflow."""
    data = tmp_path / "s.csv"
    data.write_text("id,name,score\n1,Ann,3.5\n2,Bob,4\n")
    out = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "sniff",
         str(data), "--tag", "Person", "--master", "local[2]"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    text = out.stdout[out.stdout.index("sources:"):]
    assert 'type: "INT"' in text and 'type: "DOUBLE"' in text
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text("manager: {spaceName: sniffed}\n" + text)
    run = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "import",
         "-c", str(cfg), "-o", str(tmp_path / "out"), "--master", "local[2]"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    payload = json.loads(run.stdout[run.stdout.index("{"):])
    assert payload["total_written"] == 2 and not payload["failed"]


def test_cli_validate_dry_run(tmp_path):
    """`validate` compiles every element without reading data: a good
    config exits 0 with a per-element report; a bad filter exits 2 with
    one clean config-error line."""
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        """
manager: {spaceName: vtest}
sources:
  - path: /nonexistent/never-read.csv
    tags:
      - name: person
        id: {type: STRING, concatItems: [p_, 0]}
        filter: 'Record[2] != ""'
        props:
          - {name: name, type: STRING, index: 1}
          - {name: age, type: INT, index: 7, nullable: true}
    edges:
      - name: knows
        src: {id: {type: STRING, index: 0}}
        dst: {id: {type: STRING, index: 3}}
        props: []
"""
    )
    out = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "validate",
         "-c", str(cfg)],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ok tag person" in out.stdout
    assert "min_columns=8" in out.stdout  # index 7 -> needs 8 columns
    assert "ok edge knows" in out.stdout
    assert "config valid: 1 sources, 2 elements" in out.stdout

    bad = tmp_path / "bad.yaml"
    bad.write_text(
        cfg.read_text().replace("Record[2] != \"\"", "Record[2] !! oops")
    )
    out2 = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "validate",
         "-c", str(bad)],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out2.returncode == 2
    assert "error" in out2.stderr.lower()


def test_cli_validate_counts_filter_refs(tmp_path):
    """A filter reading past every id/prop index widens the element: the
    import runs this config over a 4-field CSV, so `validate` must accept
    it and report 4 columns (it used to compile on a 2-column frame and
    fail with a FilterError)."""
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        """
manager: {spaceName: vtest}
sources:
  - path: /nonexistent/never-read.csv
    tags:
      - name: person
        id: {type: STRING, index: 0}
        filter: 'Record[3] == "x"'
        props:
          - {name: name, type: STRING, index: 1}
"""
    )
    out = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "validate",
         "-c", str(cfg)],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ok tag person" in out.stdout
    assert "min_columns=4" in out.stdout


def _kg_cli(tmp_path, *args):
    return subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "kg", *args,
         "-o", str(tmp_path / "out"), "--master", "local[2]"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )


def test_cli_kg_input_requires_aliases(tmp_path):
    """Real transcripts cannot link against the generated corpus's
    dictionary: --input without --aliases fails before any work."""
    out = _kg_cli(tmp_path, "--input", str(tmp_path / "t.parquet"))
    assert out.returncode == 2
    assert "--input needs --aliases" in out.stderr
    assert not (tmp_path / "out").exists()


def test_cli_kg_links_against_caller_dictionary(spark, tmp_path):
    from pyspark.sql import functions as F

    from nebula_importer_spark.plans.merge import TableStore
    from nebula_importer_spark.transcripts.generate import gen_corpus_local

    c = gen_corpus_local(seed=7, n_convs=3, turns_per_conv=6, mega_conv_turns=6)
    d = c.to_spark(spark)

    # entity ids no built-in dictionary produces: kind:cli_<name>
    def own(col):
        return F.regexp_replace(col, "^(\\w+):", "$1:cli_")

    d["transcripts"].write.parquet(str(tmp_path / "t.parquet"))
    d["alias_dict"].withColumn("entity_id", own("entity_id")).write.parquet(
        str(tmp_path / "a.parquet"))
    d["same_as"].select(own("entity_id").alias("entity_id"),
                        own("dup_id").alias("dup_id")).write.parquet(
        str(tmp_path / "s.parquet"))
    out = _kg_cli(tmp_path, "--input", str(tmp_path / "t.parquet"),
                  "--aliases", str(tmp_path / "a.parquet"),
                  "--same-as", str(tmp_path / "s.parquet"))
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout[out.stdout.index("{"):])
    assert payload["turns"] == len(c.transcripts)
    assert payload["triples"] > 0
    vids = [r["vid"] for r in
            TableStore(tmp_path / "out" / "kg", spark).read("tags/entity").collect()]
    assert vids and all(":cli_" in v for v in vids), vids
    assert not [v for v in vids if v.endswith("__dup")], vids
