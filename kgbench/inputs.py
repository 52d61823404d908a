"""Seeded benchmark inputs and their expected outputs, cached on disk.

Every input set lives in ``<work>/inputs/<workload>-s<seed>-n<size>/`` and
holds the files the program reads (CSV + a YAML config, or parquet tables),
a small ``warmup/`` slice of the same shape, and ``expected.json`` with what
the per-run output check compares against. A set is built once per
(workload, seed, size), outside every timing, and reused by later runs.

Expected outputs come from the generator's own bookkeeping (CSV element and
reject counts, post-merge key counts) or from the independent plain-Python
extractor ``transcripts.reference.reference_extract`` (triples).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
from datetime import date, timedelta
from pathlib import Path

from probes import dir_bytes

SPACE = "bench"
# workloads whose inputs are made by Spark jobs (run.py builds them in a
# process of their own)
NEEDS_SPARK = ("csv_upsert", "kg_megathread")
MALFORMED_RATE = 0.001  # share of CSV lines with the wrong field count
NULL_CITY_RATE = 0.10
N_CITIES = 500
_FIRST = ["Ada", "Bo", "Cyd", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo",
          "Kai", "Lu", "Max", "Nia", "Oz", "Pia", "Quin", "Ray", "Sol", "Tia"]
_LAST = ["Abe", "Birk", "Cole", "Dunn", "Ekko", "Ford", "Gale", "Holt", "Ives",
         "Jett", "Kerr", "Lowe", "Moss", "Nash", "Orr", "Pike", "Rhee", "Sato"]

PERSON_PROPS = """\
          - {name: firstName, type: STRING, index: 1}
          - {name: lastName, type: STRING, index: 2}
          - {name: birthday, type: DATE, index: 3}
          - {name: city, type: STRING, index: 4, nullable: true, nullValue: _NULL_, defaultValue: unknown}"""

IMPORT_CONFIG = f"""\
client: {{version: v3}}
manager: {{spaceName: {SPACE}}}
sources:
  - path: ./people.csv
    csv: {{delimiter: "|"}}
    tags:
      - name: Person
        id: {{type: STRING, index: 0}}
        props:
{PERSON_PROPS}
      - name: City
        id: {{type: STRING, index: 4, function: hash}}
        filter: {{expr: 'Record[4] != "_NULL_"'}}
        props:
          - {{name: name, type: STRING, index: 4}}
    edges:
      - name: LIVES_IN
        src: {{id: {{type: STRING, index: 0}}}}
        dst: {{id: {{type: STRING, index: 4, function: hash}}}}
        filter: {{expr: 'Record[4] != "_NULL_"'}}
  - path: ./follows.csv
    csv: {{delimiter: "|"}}
    edges:
      - name: FOLLOWS
        src: {{id: {{type: STRING, index: 0}}}}
        dst: {{id: {{type: STRING, index: 1}}}}
        rank: {{index: 3}}
        props:
          - {{name: since, type: INT, index: 2}}
"""

UPSERT_CONFIG = f"""\
client: {{version: v3}}
manager: {{spaceName: {SPACE}}}
sources:
  - path: ./person_update.csv
    csv: {{delimiter: "|"}}
    tags:
      - name: Person
        mode: UPDATE
        id: {{type: STRING, index: 0}}
        props:
          - {{name: firstName, type: STRING, index: 1}}
  - path: ./person_insert.csv
    csv: {{delimiter: "|"}}
    tags:
      - name: Person
        mode: INSERT
        id: {{type: STRING, index: 0}}
        props:
{PERSON_PROPS}
  - path: ./follows_delete.csv
    csv: {{delimiter: "|"}}
    edges:
      - name: FOLLOWS
        mode: DELETE
        src: {{id: {{type: STRING, index: 0}}}}
        dst: {{id: {{type: STRING, index: 1}}}}
        rank: {{index: 2}}
"""


def _element(total: int, filtered: int, written: int, rejected: int) -> dict:
    return {"total": total, "filtered": filtered, "written": written,
            "rejected": rejected}


def _person_fields(rng: random.Random, pid: str) -> list[str]:
    born = date(1950, 1, 1) + timedelta(days=rng.randrange(20000))
    city = ("_NULL_" if rng.random() < NULL_CITY_RATE
            else f"City{rng.randrange(N_CITIES):04d}")
    return [pid, rng.choice(_FIRST), rng.choice(_LAST), born.isoformat(), city]


def _malform(rng: random.Random, fields: list[str]) -> list[str]:
    """A line with one field too many or one too few. Any line can be hit,
    line 1 included: the reader sizes the row width from line 1, so a seed
    that malforms it makes a failed run, which the check reports."""
    return fields + ["extra"] if rng.random() < 0.5 else fields[:-1]


def _write_lines(path: Path, rows: list[list[str]]) -> None:
    path.write_text("".join("|".join(r) + "\n" for r in rows))


def _csv_import_files(d: Path, seed: int, n_people: int) -> dict:
    """people.csv + follows.csv (2 follows per person) + import.yaml."""
    rng = random.Random(seed)
    d.mkdir(parents=True)
    people, good_people = [], []
    for i in range(n_people):
        fields = _person_fields(rng, f"p{i:08d}")
        if rng.random() < MALFORMED_RATE:
            people.append(_malform(rng, fields))
        else:
            people.append(fields)
            good_people.append(fields)
    follows, good_keys, n_good_follows = [], set(), 0
    for _ in range(2 * n_people):
        src, dst = rng.randrange(n_people), rng.randrange(n_people)
        fields = [f"p{src:08d}", f"p{dst:08d}", str(rng.randrange(2000, 2026)),
                  str(rng.randrange(3))]
        if rng.random() < MALFORMED_RATE:
            follows.append(_malform(rng, fields))
        else:
            follows.append(fields)
            good_keys.add((fields[0], fields[1], fields[3]))
            n_good_follows += 1
    _write_lines(d / "people.csv", people)
    _write_lines(d / "follows.csv", follows)
    (d / "import.yaml").write_text(IMPORT_CONFIG)

    with_city = [p for p in good_people if p[4] != "_NULL_"]
    n_p, n_c = len(good_people), len(with_city)
    return {
        "elements": {
            "people.csv/tag/Person": _element(n_p, 0, n_p, 0),
            "people.csv/tag/City": _element(n_p, n_p - n_c, n_c, 0),
            "people.csv/edge/LIVES_IN": _element(n_p, n_p - n_c, n_c, 0),
            "follows.csv/edge/FOLLOWS": _element(
                n_good_follows, 0, n_good_follows, 0),
        },
        "csv_rejects": len(people) + len(follows) - n_p - n_good_follows,
        "keys": {
            "tags/Person": n_p,
            "tags/City": len({p[4] for p in with_city}),
            "edges/LIVES_IN": n_c,
            "edges/FOLLOWS": len(good_keys),
        },
        "input_rows": len(people) + len(follows),
        "input_bytes": sum((d / f).stat().st_size
                           for f in ("people.csv", "follows.csv")),
        # consumed by the csv_upsert delta generator
        "_people": [p[0] for p in good_people],
        "_follow_keys": sorted(good_keys),
    }


def _csv_upsert_files(d: Path, seed: int, base: dict, n_people: int) -> dict:
    """Three ~1% delta sources against the csv_import store of this seed."""
    rng = random.Random(seed * 7919 + 1)
    d.mkdir(parents=True)
    n_delta = max(n_people // 100, 1)
    existing = rng.sample(base["_people"], n_delta)
    absent = [f"x{k:08d}" for k in range(max(n_delta // 100, 3))]
    _write_lines(d / "person_update.csv",
                 [[pid, f"Re{rng.choice(_FIRST)}"] for pid in existing + absent])
    _write_lines(d / "person_insert.csv",
                 [_person_fields(rng, f"n{i:08d}") for i in range(n_delta)])
    deleted = rng.sample(base["_follow_keys"], n_delta)
    _write_lines(d / "follows_delete.csv", [list(k) for k in deleted])
    (d / "upsert.yaml").write_text(UPSERT_CONFIG)
    n_upd = len(existing) + len(absent)
    keys = dict(base["keys"])
    keys["tags/Person"] += n_delta
    keys["edges/FOLLOWS"] -= n_delta
    return {
        "elements": {
            # UPDATE rows whose key is absent are rejected (unmatched)
            "person_update.csv/tag/Person": _element(
                n_upd, 0, len(existing), len(absent)),
            "person_insert.csv/tag/Person": _element(n_delta, 0, n_delta, 0),
            "follows_delete.csv/edge/FOLLOWS": _element(
                n_delta, 0, n_delta, 0),
        },
        "csv_rejects": 0,
        "keys": keys,
        "input_rows": n_upd + 2 * n_delta,
        "input_bytes": sum((d / f).stat().st_size for f in (
            "person_update.csv", "person_insert.csv", "follows_delete.csv")),
    }


def _write_parquet(pdf, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    # microsecond timestamps: Spark cannot read parquet TIMESTAMP(NANOS)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def _reference_triples(turns, alias_dict, same_as) -> list[list]:
    from nebula_importer_spark.transcripts.reference import reference_extract

    return sorted(list(t) for t in reference_extract(
        list(turns), list(alias_dict), list(same_as)))


def _kg_linking_files(d: Path, seed: int, n_turns: int) -> dict:
    """gen_corpus_local with uniform conversations of 20 turns."""
    from nebula_importer_spark.transcripts.generate import gen_corpus_local

    c = gen_corpus_local(seed=seed, n_convs=max(n_turns // 20, 1),
                         turns_per_conv=20, mega_conv_turns=20)
    d.mkdir(parents=True)
    c.transcripts["turn_idx"] = c.transcripts["turn_idx"].astype("int32")
    _write_parquet(c.transcripts, d / "transcripts.parquet")
    _write_parquet(c.alias_dict, d / "alias_dict.parquet")
    _write_parquet(c.same_as, d / "same_as.parquet")
    turns = c.transcripts[["conv_id", "turn_idx", "text"]].itertuples(
        index=False, name=None)
    return _kg_expected(d, len(c.transcripts), _reference_triples(
        turns, c.alias_dict.itertuples(index=False, name=None),
        c.same_as.itertuples(index=False, name=None)))


def _kg_megathread_files(d: Path, seed: int, n_turns: int, spark) -> dict:
    """gen_transcripts_spark (one conversation holds 1/5 of the turns) with
    the alias dict and same_as of gen_corpus_local, as the ``kg`` CLI does."""
    from nebula_importer_spark.transcripts.generate import (
        gen_corpus_local,
        gen_transcripts_spark,
    )

    d.mkdir(parents=True)
    t = gen_transcripts_spark(spark, n_turns=n_turns, seed=seed)
    t.write.parquet(str(d / "transcripts.parquet"))
    c = gen_corpus_local(seed=seed, n_convs=1, turns_per_conv=1)
    _write_parquet(c.alias_dict, d / "alias_dict.parquet")
    _write_parquet(c.same_as, d / "same_as.parquet")
    turns = spark.read.parquet(str(d / "transcripts.parquet")).select(
        "conv_id", "turn_idx", "text").toLocalIterator()
    return _kg_expected(d, n_turns, _reference_triples(
        (tuple(r) for r in turns),
        c.alias_dict.itertuples(index=False, name=None),
        c.same_as.itertuples(index=False, name=None)))


def _kg_expected(d: Path, n_turns: int, triples: list[list]) -> dict:
    return {"turns": n_turns, "triples": triples, "input_rows": n_turns,
            "input_bytes": dir_bytes(d)}


def set_dir(work: Path, workload: str, seed: int, size: int,
            warmup_size: int) -> Path:
    return work / "inputs" / f"{workload}-s{seed}-n{size}-w{warmup_size}"


def input_set(work: Path, workload: str, seed: int, size: int,
              warmup_size: int, spark=None) -> Path:
    """Directory of the (workload, seed, size) input set, built if missing.
    Holds ``expected.json`` and a ``warmup/`` slice built from the same seed.
    ``spark`` is needed only to build a NEEDS_SPARK workload's set."""
    final = set_dir(work, workload, seed, size, warmup_size)
    if final.is_dir():
        return final
    tmp = final.with_name(f"{final.name}.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for sub, n in (("full", size), ("warmup", warmup_size)):
        expected = _build(workload, tmp / sub, seed, n, spark)
        expected = {k: v for k, v in expected.items() if not k.startswith("_")}
        (tmp / sub / "expected.json").write_text(json.dumps(expected))
    # the full set sits at the top level, the slice under warmup/
    for p in (tmp / "full").iterdir():
        p.rename(tmp / p.name)
    (tmp / "full").rmdir()
    tmp.rename(final)  # complete sets only ever appear under their name
    return final


def _build(workload: str, d: Path, seed: int, n: int, spark) -> dict:
    if workload == "csv_import":
        return _csv_import_files(d, seed, n)
    if workload == "csv_upsert":
        base_dir = d.parent / "base"
        base = _csv_import_files(base_dir, seed, n)
        out = _csv_upsert_files(d, seed, base, n)
        _build_base_store(spark, base_dir, d / "base_store")
        shutil.rmtree(base_dir)
        return out
    if workload == "kg_linking":
        return _kg_linking_files(d, seed, n)
    if workload == "kg_megathread":
        return _kg_megathread_files(d, seed, n, spark)
    raise ValueError(f"unknown workload {workload!r}")


def _build_base_store(spark, base_dir: Path, store: Path) -> None:
    """The csv_import output the csv_upsert deltas merge into."""
    from nebula_importer_spark.config.parse import load_config
    from nebula_importer_spark.plans.pipeline import Pipeline

    cfg = load_config(base_dir / "import.yaml")
    Pipeline(cfg, spark, staging_dir=str(base_dir / "_stage")).run(str(store))


def main(argv: list[str]) -> int:
    """Build one NEEDS_SPARK input set with a Spark session of its own:
    ``inputs.py <workload> <seed> <size> <warmup_size>``. Run by run.py,
    which has set up the environment (work dir, PYTHONPATH, JVM options)."""
    from probes import stop_spark

    from nebula_importer_spark.session import get_spark

    workload, seed, size, warmup_size = argv
    work = Path(__file__).resolve().parent / ".work"
    spark = get_spark(master=f"local[{os.cpu_count() or 1}]")
    try:
        input_set(work, workload, int(seed), int(size), int(warmup_size),
                  spark)
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
