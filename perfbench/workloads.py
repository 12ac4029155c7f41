"""The benchmark's workloads: fixture shape, CLI arguments, correctness gate.

Both are closed loops with one client: one nightly-batch style
``cli.main(["run", ...])`` at a time, the next only after the previous
one has written its outputs.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fixtures


@dataclass(frozen=True)
class Workload:
    name: str
    n_rows: int
    n_parts: int
    dirty: bool  # inject the F1 violation kinds
    curated: bool  # pass the curated snapshot (keyed trio, drift)
    seeded_parts: int  # parts pre-recorded VALIDATED in the lineage store
    flags: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="bulk_dirty",
            n_rows=1000,
            n_parts=10,
            dirty=True,
            curated=True,
            seeded_parts=0,
            flags=("--decode", "--decode-seed", "{seed}"),
        ),
        Workload(
            name="incremental_resume",
            n_rows=2560,
            n_parts=64,
            dirty=False,
            curated=False,
            seeded_parts=48,
            flags=(),
        ),
    )
}


def _part(i: int) -> str:
    return f"p{i:04d}"


def seeded_parts(w: Workload, seed: int) -> list[str]:
    order = np.random.default_rng(seed + 1).permutation(w.n_parts)
    return sorted(_part(int(i)) for i in order[: w.seeded_parts])


def spec_for(w: Workload, seed: int) -> fixtures.DirtySpec | None:
    return fixtures.dirty_spec(seed, w.n_rows, w.n_parts) if w.dirty else None


def fixture_dir(work: str, w: Workload, seed: int) -> str:
    return f"{work}/fixtures/{w.name}-r{w.n_rows}-p{w.n_parts}-s{seed}"


def ensure_fixture(work: str, w: Workload, seed: int) -> str:
    fx = fixture_dir(work, w, seed)
    fixtures.build(fx, seed, w.n_rows, w.n_parts, spec_for(w, seed))
    if w.seeded_parts and not os.path.isfile(f"{fx}/lineage_seed/_SUCCESS"):
        parts = seeded_parts(w, seed)
        per_part = w.n_rows // w.n_parts
        n = len(parts)
        d = f"{fx}/lineage_seed"
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "run_id": ["lineage-seed"] * n,
                    "part": parts,
                    "status": ["VALIDATED"] * n,
                    "rows_scanned": pa.array([per_part] * n, pa.int64()),
                    "violations": pa.array([0] * n, pa.int64()),
                    "wall_ms": pa.array([0] * n, pa.int64()),
                    "_ingested_ms": pa.array([0] * n, pa.int64()),
                }
            ),
            f"{d}/part-00000-seed.parquet",
        )
        open(f"{d}/_SUCCESS", "w").close()
    return fx


def cli_args(w: Workload, seed: int, fx: str, out: str, run_id: str) -> list[str]:
    args = ["run", "--raw", f"{fx}/raw", "--manifest", f"{fx}/manifest", "--out", out, "--run-id", run_id]
    if w.curated:
        args += ["--curated", f"{fx}/curated"]
    if w.seeded_parts:
        args += ["--lineage", f"{out}/lineage"]
    else:
        args += ["--no-resume"]
    return args + [f.format(seed=seed) for f in w.flags]


def reset_run_dir(w: Workload, fx: str, out: str) -> None:
    """Empty the output dir and restore the seeded lineage store, so no
    run sees a previous run's outputs or lineage."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if w.seeded_parts:
        shutil.copytree(f"{fx}/lineage_seed", f"{out}/lineage")


def validated_parts(w: Workload, seed: int) -> list[str]:
    skip = set(seeded_parts(w, seed))
    return [_part(i) for i in range(w.n_parts) if _part(i) not in skip]


def input_bytes(w: Workload, seed: int, fx: str) -> int:
    """On-disk bytes of the snapshot partitions one run validates."""
    snaps = ("raw", "curated") if w.curated else ("raw",)
    return sum(
        fixtures.disk_bytes(f"{fx}/{s}/part={p}") for s in snaps for p in validated_parts(w, seed)
    )


def _read(path: str) -> pa.Table | None:
    return pq.read_table(path) if os.path.isdir(path) else None


def check(w: Workload, seed: int, out: str, rc: int, summary: dict, run_id: str) -> list[str]:
    """The correctness gate. Returns the list of problems (empty = pass)."""
    problems: list[str] = []
    verdicts = _read(f"{out}/verdicts")
    violations = _read(f"{out}/violations")
    if verdicts is None:
        return ["no verdicts written"]
    rows = verdicts.select(["part", "constraint", "verdict"]).to_pylist()
    fails = {(r["part"], r["constraint"]) for r in rows if r["verdict"] == "FAIL"}
    n_viol = violations.num_rows if violations is not None else 0
    parts = validated_parts(w, seed)

    if w.dirty:
        spec = spec_for(w, seed)
        if fails != spec.fail_pairs:
            problems.append(
                f"FAIL verdicts differ: missing {sorted(spec.fail_pairs - fails)}, "
                f"unexpected {sorted(fails - spec.fail_pairs)}"
            )
        ids = {r for r in violations.column("image_id").to_pylist() if r is not None} if n_viol else set()
        if ids != spec.violation_ids:
            problems.append(
                f"violating image_ids differ: missing {sorted(spec.violation_ids - ids)}, "
                f"unexpected {sorted(ids - spec.violation_ids)}"
            )
        if rc != 1:
            problems.append(f"exit code {rc}, expected 1 (failed parts)")
        quarantine = _read(f"{out}/quarantine")
        q_parts = set(quarantine.column("part").to_pylist()) if quarantine is not None else set()
        if q_parts != {p for p, _ in spec.fail_pairs}:
            problems.append(f"quarantined parts {sorted(q_parts)} != failed parts")
    else:
        if fails:
            problems.append(f"unexpected FAIL verdicts: {sorted(fails)[:5]}")
        if n_viol:
            problems.append(f"{n_viol} unexpected violations")
        if rc != 0:
            problems.append(f"exit code {rc}, expected 0")

    # the verdict grid: one row per (validated part, constraint) + schema
    part_rows = [r for r in rows if r["part"] != "*"]
    names = {r["constraint"] for r in part_rows}
    if {r["part"] for r in part_rows} != set(parts) or len(part_rows) != len(parts) * len(names):
        problems.append(
            f"verdict grid: {len(part_rows)} rows over {len({r['part'] for r in part_rows})} "
            f"parts, expected {len(parts)} parts x {len(names)} constraints"
        )

    expected_rows = len(parts) * (w.n_rows // w.n_parts) + (1 if w.dirty else 0)
    if summary.get("rows_scanned") != expected_rows:
        problems.append(f"rows_scanned {summary.get('rows_scanned')} != {expected_rows}")
    if w.seeded_parts:
        lineage = _read(f"{out}/lineage").to_pylist()
        mine = {r["part"] for r in lineage if r["run_id"] == run_id}
        if mine != set(parts):
            problems.append(
                f"lineage: run validated {len(mine)} parts, "
                f"{len(mine - set(parts))} of them seeded as VALIDATED"
            )
    return problems
