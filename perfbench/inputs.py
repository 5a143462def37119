"""Seeded, cached benchmark inputs.

Batch tables come from ``tools/gen_sf.generate(sf, dir, seed)``. The
stream input is rendered from the generated ``events`` table as
edit-event JSON lines, one file per trigger, in event-time order.

Everything lands under ``.scratch/perfbench/inputs/`` of the checkout,
keyed by scale factor, seed and a hash of the generator sources, so a
repeated seed reuses its files and a generator change regenerates them.
Generation time is reported separately and is never part of ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".scratch", "perfbench")

# gen_sf copies nation/region verbatim from a fixture directory; the
# benchmark writes that fixture itself so it reads nothing outside the
# checkout. Same rows as the shipped sf0.1 fixture.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Stream rendering: Wikipedia's recent-changes feed runs at about 20
# edits/s over about 1 000 wikis whose sizes follow a heavy head.
EVENTS_PER_SECOND = 20
N_DOMAINS = 1000
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z


def _write_fixture(path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        os.path.join(path, "nation.parquet"),
    )
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        os.path.join(path, "region.parquet"),
    )


def _generator_hash() -> str:
    h = hashlib.sha256()
    for path in (os.path.join(ROOT, "tools", "gen_sf.py"), os.path.abspath(__file__)):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _cached(key: str, build) -> tuple[str, dict]:
    """Return (dir, manifest) for ``key``, building it on a miss. A
    directory only counts once its manifest is written, so an
    interrupted build is redone rather than reused."""
    out = os.path.join(WORK, "inputs", key)
    manifest_path = os.path.join(out, "BENCH_MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    manifest = build(out)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=1)
    return out, manifest


def tables(sf: float, seed: int) -> tuple[str, dict]:
    """Generated parquet tables at ``sf`` for ``seed``."""
    from tools import gen_sf

    def build(out: str) -> dict:
        fixture = os.path.join(WORK, "fixture")
        _write_fixture(fixture)
        gen_sf.FIXTURE_DIR = fixture
        m = gen_sf.generate(sf, out, seed)
        return {"sf": sf, "seed": seed, "rows": m["counts"]}

    return _cached(f"sf{sf:g}-seed{seed}-{_generator_hash()}", build)


def edit_stream(sf: float, seed: int, per_file: int) -> tuple[str, dict]:
    """Edit-event JSON files, under ``<dir>/events``, rendered from the
    ``events`` table of ``tables(sf, seed)``: ``per_file`` events per
    file (one file per trigger), in event-time order.

    Rendering keeps the table's row order and values and re-times and
    re-labels them at Wikipedia's shape:

    - event i is stamped ``EPOCH + i / EVENTS_PER_SECOND`` seconds;
    - its wiki is log-uniform over ``N_DOMAINS`` ranks (rank r has
      weight ~1/r), drawn from a hash of ``event_id``;
    - ``error`` events are bots and 1 in 10 edits (by ``props.k``) is
      outside the main namespace, so the pipeline's filter drops some;
    - the edit size is ``value`` scaled to characters.
    """
    src_dir, src_manifest = tables(sf, seed)

    def build(out: str) -> dict:
        ev = pq.read_table(
            os.path.join(src_dir, "events.parquet"),
            columns=["event_id", "event_type", "value", "props"],
        ).to_pydict()
        n = len(ev["event_id"]) // per_file * per_file
        ids = np.asarray(ev["event_id"][:n], dtype=np.int64)
        frac = (ids * 0.6180339887498949) % 1.0
        rank = np.floor(N_DOMAINS ** frac).astype(np.int64)
        old = (ids * 7919) % 20_000
        delta = np.round(np.asarray(ev["value"][:n]) * 10).astype(np.int64)
        new = np.where(ids % 3 == 0, np.maximum(old - delta, 0), old + delta)
        os.makedirs(os.path.join(out, "events"))
        for f in range(n // per_file):
            lines = []
            for i in range(f * per_file, (f + 1) * per_file):
                ts = EPOCH_S + i // EVENTS_PER_SECOND
                k = int(ev["props"][i][6:-1])  # '{"k": 87}'
                lines.append(json.dumps({
                    "id": str(ids[i]),
                    "domain": f"w{rank[i]}.wikipedia.org",
                    "namespace": "talk" if k % 10 == 0 else "main namespace",
                    "title": f"page {ids[i] % 5000}",
                    "timestamp": _iso(ts),
                    "user_name": f"user{ids[i] % 997}",
                    "user_type": "bot" if ev["event_type"][i] == "error" else "human",
                    "old_length": int(old[i]),
                    "new_length": int(new[i]),
                }))
            with open(os.path.join(out, "events", f"part-{f:05d}.json"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        return {
            "sf": sf, "seed": seed, "events": n, "files": n // per_file,
            "events_per_file": per_file, "source_rows": src_manifest["rows"],
        }

    return _cached(
        f"stream-sf{sf:g}-seed{seed}-per{per_file}-{_generator_hash()}", build
    )


def _iso(epoch_s: int) -> str:
    import time

    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch_s))
