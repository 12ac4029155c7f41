"""Deterministic benchmark fixtures, written without Spark.

Every table is a pure function of the workload seed. Rows follow the
image-table generation rule of ``bigdime_spark.sources.synth`` (pixels
from ``make_pixels(seed, image_id, w, h)``, so ``--decode-seed <seed>``
re-derives the reference pixels), but the parquet files are written
with pyarrow in the benchmark process itself: no JVM is started before
the measured session, so the validation run really is the first one in
a fresh JVM.

The manifest's ``expected_xor`` / ``expected_sum`` are folds of
Spark's ``xxhash64`` over the checksum columns; it is re-implemented
here (``xxhash64_rows``), vectorised over rows with numpy.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bigdime_spark.functions.hashes import CHECKSUM_COLUMNS
from bigdime_spark.sources import synth

TABLES = ("raw", "curated", "manifest")

# ------------------------------------------------ Spark's XXH64 (seed 42)

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
_U = np.uint64


def _rotl(x, r: int):
    return (x << _U(r)) | (x >> _U(64 - r))


def _rotl_int(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    return h ^ (h >> 32)


def _hash_int(v: int, seed: int) -> int:
    h = (seed + P5 + 4) & _M
    h ^= ((v & 0xFFFFFFFF) * P1) & _M
    return _fmix((_rotl_int(h, 23) * P2 + P3) & _M)


def _hash_long(v: int, seed: int) -> int:
    h = (seed + P5 + 8) & _M
    h ^= (_rotl_int(((v & _M) * P2) & _M, 31) * P1) & _M
    return _fmix((_rotl_int(h, 27) * P1 + P4) & _M)


def _hash_tail(data: bytes, start: int, h: int) -> int:
    """XXH64 finish over data[start:], whose 32-byte stripes are done."""
    n = len(data)
    off = start
    while off + 8 <= n:
        k = int.from_bytes(data[off:off + 8], "little")
        h ^= (_rotl_int((k * P2) & _M, 31) * P1) & _M
        h = (_rotl_int(h, 27) * P1 + P4) & _M
        off += 8
    if off + 4 <= n:
        h ^= (int.from_bytes(data[off:off + 4], "little") * P1) & _M
        h = (_rotl_int(h, 23) * P2 + P3) & _M
        off += 4
    while off < n:
        h ^= (data[off] * P5) & _M
        h = (_rotl_int(h, 11) * P1) & _M
        off += 1
    return _fmix(h)


def _stripes_merge(v: list[int]) -> int:
    h = (_rotl_int(v[0], 1) + _rotl_int(v[1], 7) + _rotl_int(v[2], 12) + _rotl_int(v[3], 18)) & _M
    for lane in v:
        lane = (_rotl_int((lane * P2) & _M, 31) * P1) & _M
        h = ((h ^ lane) * P1 + P4) & _M
    return h


def _hash_bytes(payloads: list[bytes], seeds: list[int], chunk: int = 256) -> list[int]:
    """XXH64 of many byte strings at once: the 32-byte stripe loop runs
    over ``chunk`` rows together (one numpy step per stripe index)."""
    if len(payloads) > chunk:
        return [
            h
            for i in range(0, len(payloads), chunk)
            for h in _hash_bytes(payloads[i:i + chunk], seeds[i:i + chunk], chunk)
        ]
    lens = np.array([len(p) for p in payloads], dtype=np.int64)
    n_stripes = lens // 32
    max_stripes = int(n_stripes.max()) if len(payloads) else 0
    words = np.zeros((len(payloads), max_stripes * 4), dtype=np.uint64)
    for i, p in enumerate(payloads):
        k = int(n_stripes[i]) * 32
        words[i, : k // 8] = np.frombuffer(p[:k], dtype="<u8")
    seed_arr = np.array(seeds, dtype=np.uint64)
    v = np.stack(
        [seed_arr + _U(P1) + _U(P2), seed_arr + _U(P2), seed_arr, seed_arr - _U(P1)],
        axis=1,
    )
    with np.errstate(over="ignore"):
        for s in range(max_stripes):
            live = n_stripes > s
            k = words[:, 4 * s:4 * s + 4]
            upd = _rotl(v + k * _U(P2), 31) * _U(P1)
            v = np.where(live[:, None], upd, v)
    out = []
    for i, p in enumerate(payloads):
        if lens[i] >= 32:
            h = _stripes_merge([int(x) for x in v[i]])
        else:
            h = (seeds[i] + P5) & _M
        out.append(_hash_tail(p, int(n_stripes[i]) * 32, (h + int(lens[i])) & _M))
    return out


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64_rows(table: pa.Table) -> list[int]:
    """Spark ``xxhash64(*CHECKSUM_COLUMNS)`` per row (seed 42, each
    column's hash seeding the next, NULLs skipped), as signed int64."""
    h = [42] * table.num_rows
    for name in CHECKSUM_COLUMNS:
        col = table.column(name)
        vals = col.to_pylist()
        idx = [i for i, v in enumerate(vals) if v is not None]
        if pa.types.is_int32(col.type):
            new = [_hash_int(vals[i], h[i]) for i in idx]
        elif pa.types.is_int64(col.type):
            new = [_hash_long(vals[i], h[i]) for i in idx]
        else:
            raw = [v.encode() if isinstance(v, str) else v for v in vals]
            new = _hash_bytes([raw[i] for i in idx], [h[i] for i in idx])
        for i, v in zip(idx, new):
            h[i] = v
    return [_signed(x) for x in h]


# ------------------------------------------------------------ generation


def image_row(seed: int, i: int, n_parts: int) -> dict:
    """One row of the F1 image table (FIXTURES.md), keyed by (seed, i)."""
    image_id = f"img-{i:012d}"
    rng = synth.rng_for(seed, image_id)
    w = int(synth.SIZES[rng.integers(0, len(synth.SIZES))])
    h = int(synth.SIZES[rng.integers(0, len(synth.SIZES))])
    fmt = synth.FMTS[int(rng.integers(0, len(synth.FMTS)))]
    pixels = synth.make_pixels(seed, image_id, w, h)
    stored = synth.quantize(pixels, int(fmt[4:])) if fmt.startswith("rawq") else pixels
    return {
        "image_id": image_id,
        "bytes": synth.encode(pixels, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"a photo of {synth.NOUNS[i % len(synth.NOUNS)]} ({i})",
        "phash": synth.phash64(stored),
        "part": f"p{i % n_parts:04d}",
    }


@dataclass
class DirtySpec:
    """Injected F1 violations, each kind in a partition of its own, and
    the exact verdicts and violations the engine must report for them."""

    null_caption: str
    dup_image_id: tuple[str, str]  # (image_id, target part)
    bitflip_bytes: str
    orphan_raw: str
    caption_edit: str
    count_mismatch: str
    missing_manifest: str
    phash_near_pair: tuple[str, str]
    fail_pairs: set = field(default_factory=set)  # {(part, constraint)}
    violation_ids: set = field(default_factory=set)  # {image_id}


def _part_of(image_id: str, n_parts: int) -> str:
    return f"p{int(image_id[4:]) % n_parts:04d}"


def dirty_spec(seed: int, n_rows: int, n_parts: int) -> DirtySpec:
    """Seed-chosen rows, one injected kind per partition, and the oracle.

    The near-dup pair occupies two consecutive partitions (consecutive
    ids); every other kind gets a partition no other kind touches, so
    each expected verdict follows from its own injection alone. The
    planted phash pair is written to both snapshots, so it moves no phash
    value between raw and curated. Needs at least 100 rows per partition:
    the drift PSI adds its epsilon to bucket counts, so one row landing
    in a bucket the other snapshot leaves empty costs (1/n) ln(1e6), which
    must stay well below the 0.25 limit (0.14 at n = 100).
    """
    if n_rows // n_parts < 100 or n_parts < 10:
        raise ValueError("dirty fixture needs >= 10 partitions of >= 100 rows")
    rng = np.random.default_rng(seed)
    parts = [int(p) for p in rng.permutation(n_parts)]
    # the pair needs partitions k and k+1: take the first chosen k with
    # k+1 < n_parts, and keep both out of the other kinds' pool
    k = next(p for p in parts if p + 1 < n_parts)
    pool = [p for p in parts if p not in (k, k + 1)]
    per_part = n_rows // n_parts

    def pick(part: int) -> str:
        return f"img-{int(rng.integers(0, per_part)) * n_parts + part:012d}"

    j = int(rng.integers(0, per_part))
    a, b = f"img-{j * n_parts + k:012d}", f"img-{j * n_parts + k + 1:012d}"
    spec = DirtySpec(
        null_caption=pick(pool[0]),
        dup_image_id=(pick(pool[1]), f"p{pool[2]:04d}"),
        bitflip_bytes=pick(pool[3]),
        orphan_raw=pick(pool[4]),
        caption_edit=pick(pool[5]),
        count_mismatch=f"p{pool[6]:04d}",
        missing_manifest=f"p{pool[7]:04d}",
        phash_near_pair=(a, b),
    )
    P = lambda image_id: _part_of(image_id, n_parts)  # noqa: E731
    dup_id, dup_target = spec.dup_image_id
    spec.fail_pairs = {
        # raw caption NULLed: null check, byte-diff against curated,
        # and the content hash no longer matches the manifest
        (P(spec.null_caption), "not_null.caption"),
        (P(spec.null_caption), "caption_equality"),
        (P(spec.null_caption), "checksum"),
        # a copied row: both landing partitions break uniqueness, the
        # target gains a row (count + content)
        (P(dup_id), "uniqueness.image_id"),
        (dup_target, "uniqueness.image_id"),
        (dup_target, "record_count"),
        (dup_target, "checksum"),
        # truncated payload: content hash and decode
        (P(spec.bitflip_bytes), "checksum"),
        (P(spec.bitflip_bytes), "decode"),
        (P(spec.orphan_raw), "referential"),
        (P(spec.caption_edit), "caption_equality"),
        (spec.count_mismatch, "record_count"),
        # planted phash pair: the content hash no longer matches the
        # manifest (decode compares pixels with the seed's reference,
        # not with the stored phash)
        (P(a), "checksum"),
        (P(b), "checksum"),
    }
    spec.violation_ids = {
        spec.null_caption,
        dup_id,
        spec.bitflip_bytes,
        spec.orphan_raw,
        spec.caption_edit,
    }
    return spec


def _plant_pair(r: dict, spec: DirtySpec) -> dict:
    """Give the near-dup pair its phash literals (hamming distance 1)."""
    for side, image_id in enumerate(spec.phash_near_pair):
        if r["image_id"] == image_id:
            return dict(r, phash=synth.planted_phash(0, side))
    return r


def _inject_raw(rows: list[dict], spec: DirtySpec) -> list[dict]:
    out = []
    for r in rows:
        r = _plant_pair(dict(r), spec)
        if r["image_id"] == spec.null_caption:
            r["caption"] = None
        if r["image_id"] == spec.bitflip_bytes:
            r["bytes"] = r["bytes"][:-1]
        out.append(r)
        if r["image_id"] == spec.dup_image_id[0]:
            out.append(dict(r, part=spec.dup_image_id[1]))
    return out


def _inject_curated(rows: list[dict], spec: DirtySpec) -> list[dict]:
    out = []
    for r in rows:
        r = _plant_pair(r, spec)
        if r["image_id"] == spec.orphan_raw:
            continue
        if r["image_id"] == spec.caption_edit:
            r = dict(r, caption=r["caption"] + " ~edited")
        out.append(r)
    return out


def _write_partitioned(rows: list[dict], path: str) -> None:
    by_part: dict[str, list[dict]] = {}
    for r in rows:
        by_part.setdefault(r["part"], []).append(r)
    schema = pa.schema([f for f in synth.ARROW_SCHEMA if f.name != "part"])
    for part, prows in sorted(by_part.items()):
        d = f"{path}/part={part}"
        os.makedirs(d, exist_ok=True)
        tbl = pa.Table.from_pylist(prows, schema=schema)
        pq.write_table(tbl, f"{d}/part-00000.parquet")
    open(f"{path}/_SUCCESS", "w").close()


def _manifest(rows: list[dict], spec: DirtySpec | None) -> pa.Table:
    tbl = pa.Table.from_pylist(rows, schema=synth.ARROW_SCHEMA)
    agg: dict[str, list[int]] = {}
    for part, hv in zip(tbl.column("part").to_pylist(), xxhash64_rows(tbl)):
        n, x, s = agg.get(part, (0, 0, 0))
        agg[part] = (n + 1, x ^ (hv & _M), s + hv)
    parts = sorted(agg)
    if spec is not None:
        parts = [p for p in parts if p != spec.missing_manifest]
    return pa.table(
        {
            "part": pa.array(parts, pa.string()),
            "expected_rows": pa.array(
                [agg[p][0] + (1 if spec is not None and p == spec.count_mismatch else 0) for p in parts],
                pa.int64(),
            ),
            "expected_xor": pa.array([_signed(agg[p][1]) for p in parts], pa.int64()),
            "expected_sum": pa.array([agg[p][2] for p in parts], pa.decimal128(38, 0)),
        }
    )


def build(fx_dir: str, seed: int, n_rows: int, n_parts: int, spec: DirtySpec | None) -> None:
    """Write raw/curated/manifest under ``fx_dir`` (skipped when a
    complete copy is already there; a partial one is discarded)."""
    if all(os.path.isfile(f"{fx_dir}/{t}/_SUCCESS") for t in TABLES):
        return
    shutil.rmtree(fx_dir, ignore_errors=True)
    pristine = [image_row(seed, i, n_parts) for i in range(n_rows)]
    raw = _inject_raw(pristine, spec) if spec else pristine
    curated = _inject_curated(pristine, spec) if spec else pristine
    tmp = fx_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_partitioned(raw, f"{tmp}/raw")
    _write_partitioned(curated, f"{tmp}/curated")
    os.makedirs(f"{tmp}/manifest")
    pq.write_table(_manifest(pristine, spec), f"{tmp}/manifest/part-00000.parquet")
    open(f"{tmp}/manifest/_SUCCESS", "w").close()
    os.replace(tmp, fx_dir)


def disk_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
