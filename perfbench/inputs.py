"""Benchmark inputs: seeded clip corpora, their digests and oracle labels.

Every input is made by ``corpus.generator.write_clips_parquet`` from the
run's seed and cached under ``<checkout>/.perfbench/cache``, keyed by
(sf, seed, ``FIXTURE_VERSION``). ``pins.json`` holds the SHA-256 of a
small reference corpus, which every run regenerates and compares, and
the digests of the workload corpora for the seeds it lists. A digest
that differs raises ``InputDrift``: an edit to the generator changes the
workload, so such a run fails instead of being compared.

``python3 perfbench/inputs.py --pin`` prints a fresh pins document.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
PINS = os.path.join(HERE, "pins.json")

# corpora (and oracle label sets) kept in the cache; older ones are
# evicted by last use
KEEP_CORPORA = 8


class InputDrift(RuntimeError):
    """The generated input differs from the pinned one."""


@dataclass(frozen=True)
class Corpus:
    path: str
    sf: float
    seed: int
    digest: str
    n_clips: int


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def load_pins() -> dict:
    with open(PINS) as fh:
        return json.load(fh)


def _write(path: str, sf: float, seed: int) -> None:
    from data_quality_checker_spark.corpus.generator import write_clips_parquet

    tmp = f"{path}.tmp.{os.getpid()}"
    write_clips_parquet(tmp, sf, seed=seed)
    os.replace(tmp, path)


def check_generator(pins: dict, workdir: str) -> None:
    """Regenerate the pinned reference corpus and compare its digest."""
    from data_quality_checker_spark.corpus.generator import FIXTURE_VERSION

    if FIXTURE_VERSION != pins["fixture_version"]:
        raise InputDrift(
            f"FIXTURE_VERSION {FIXTURE_VERSION} != pinned {pins['fixture_version']}"
        )
    ref = pins["reference"]
    path = os.path.join(workdir, "reference.parquet")
    _write(path, ref["sf"], ref["seed"])
    digest = sha256_file(path)
    os.remove(path)
    if digest != ref["sha256"]:
        raise InputDrift(f"reference corpus digest {digest} != pinned {ref['sha256']}")


def _corpus_key(sf: float, seed: int) -> str:
    from data_quality_checker_spark.corpus.generator import FIXTURE_VERSION

    return f"clips-sf{sf:g}-seed{seed}-v{FIXTURE_VERSION}"


def _prune() -> None:
    for prefix in ("clips-", "labels-"):
        entries = [
            os.path.join(CACHE, n)
            for n in os.listdir(CACHE)
            if n.startswith(prefix) and ".tmp." not in n
        ]
        entries.sort(key=os.path.getmtime, reverse=True)
        for stale in entries[KEEP_CORPORA:]:
            if os.path.isdir(stale):
                shutil.rmtree(stale, ignore_errors=True)
            else:
                os.remove(stale)


def corpus(sf: float, seed: int, pins: dict) -> Corpus:
    """The cached corpus for (sf, seed); generated on first use."""
    import pyarrow.parquet as pq

    os.makedirs(CACHE, exist_ok=True)
    key = _corpus_key(sf, seed)
    path = os.path.join(CACHE, f"{key}.parquet")
    if not os.path.exists(path):
        _write(path, sf, seed)
    os.utime(path)
    _prune()
    digest = sha256_file(path)
    pinned = pins["corpora"].get(f"{sf:g}/{seed}")
    if pinned is not None and pinned != digest:
        raise InputDrift(f"corpus sf={sf:g} seed={seed}: digest {digest} != pinned {pinned}")
    return Corpus(path, sf, seed, digest, pq.ParquetFile(path).metadata.num_rows)


def stream_dir(c: Corpus, n_files: int) -> str:
    """The corpus split into ``n_files`` clip_id-contiguous parquet files
    with strictly increasing mtimes, so the file source reads them in
    clip_id order and the first-seen duplicate keeper is the same every
    run."""
    import pyarrow.parquet as pq

    out = os.path.join(CACHE, f"{_corpus_key(c.sf, c.seed)}-files{n_files}")
    if not os.path.isdir(out):
        table = pq.read_table(c.path)
        ids = table.column("clip_id").to_pylist()
        if ids != sorted(ids):
            raise InputDrift("corpus rows are not in clip_id order")
        tmp = f"{out}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        n = table.num_rows
        edges = [n * i // n_files for i in range(n_files + 1)]
        base = 1_600_000_000
        for i in range(n_files):
            f = os.path.join(tmp, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(edges[i], edges[i + 1] - edges[i]), f)
            os.utime(f, (base + i, base + i))
        os.replace(tmp, out)
    os.utime(out)
    return out


def oracle_labels(c: Corpus):
    """``oracle.pandas_oracle.label_clips`` for the corpus, indexed by
    clip_id, cached per corpus digest: (keep, rules, scrubbed), with
    ``rules`` a comma-joined, name-sorted string."""
    import pandas as pd

    path = os.path.join(CACHE, f"labels-{c.digest}.parquet")
    if not os.path.exists(path):
        from data_quality_checker_spark.oracle.pandas_oracle import label_clips

        lab = label_clips(pd.read_parquet(c.path))
        out = pd.DataFrame(
            {
                "clip_id": lab["clip_id"],
                "keep": lab["keep"].astype(bool),
                "rules": lab["rules_fired"].map(lambda r: ",".join(sorted(r))),
                "scrubbed": lab["scrubbed_transcript"],
            }
        )
        tmp = f"{path}.tmp.{os.getpid()}"
        out.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    os.utime(path)
    return pd.read_parquet(path).set_index("clip_id")


def _pin(seeds: range) -> dict:
    from data_quality_checker_spark.corpus.generator import FIXTURE_VERSION

    from workloads import CORPUS_SF

    pins = {
        "fixture_version": FIXTURE_VERSION,
        "reference": {"sf": 0.005, "seed": 0},
        "corpora": {},
    }
    os.makedirs(CACHE, exist_ok=True)
    ref = os.path.join(CACHE, "reference.parquet")
    _write(ref, 0.005, 0)
    pins["reference"]["sha256"] = sha256_file(ref)
    os.remove(ref)
    for sf in sorted(set(CORPUS_SF.values())):
        for seed in seeds:
            path = os.path.join(CACHE, f"{_corpus_key(sf, seed)}.parquet")
            if not os.path.exists(path):
                _write(path, sf, seed)
            pins["corpora"][f"{sf:g}/{seed}"] = sha256_file(path)
        _prune()
    return pins


if __name__ == "__main__":
    sys.path[:0] = [ROOT, HERE]
    if sys.argv[1:2] != ["--pin"]:
        sys.exit("usage: python3 perfbench/inputs.py --pin [N_SEEDS]")
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    print(json.dumps(_pin(range(n)), indent=1, sort_keys=True))
