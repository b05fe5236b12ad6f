"""Seeded benchmark inputs, built from real ``qcflow.synth`` rows.

Every clip is a pure function of its index (``synth.gen_batch``), so the
inputs are built from a pool of fixed index blocks: block ``b`` holds
clips ``[b * BLOCK, (b + 1) * BLOCK)``. A seed picks ``QC_BLOCKS`` of the
``POOL_BLOCKS`` blocks; their files, hard-linked into one directory, are
the seed's clip table. The whole pool is generated once, by the first run
in a checkout, so later runs do no generation work before they measure,
and the pool bounds both disk use and generation time.

Per seed the state directory holds:

- ``clips.parquet/``: the clip table the ``oneshot`` and ``resume``
  workloads score (the program's six input columns, payload included);
- ``ref.parquet``: ``qcflow.reference_labeler.label`` on the same rows,
  the keep/drop truth for the F1 check;
- ``payload.parquet/``: the first ``PAYLOAD_ROWS`` clips of the seed's
  lowest-index block (a contiguous clip_id slice) plus planted
  re-uploads, byte-identical rows under new clip_ids: one hot group of ``HOT_COPIES`` copies of a single source,
  ``SMALL_GROUPS`` groups of 1-2 copies, and one copy of each
  undecodable (unknown-codec) row of the slice;
- ``truth.json``: row counts, input bytes and the construction-truth
  survivor count of the dedup stage.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil

import numpy as np

BLOCK = 500
POOL_BLOCKS = 16
QC_BLOCKS = 8
WARM_ROWS = 128
WARM_FIRST_INDEX = 10_000_000  # outside every pool block
PAYLOAD_ROWS = 250
HOT_COPIES = 24
SMALL_GROUPS = 20
ROW_GROUP_ROWS = 128  # ~16 MB of payload per row group, as synth writes
MODEL_SEED = 1234
# the program's model cache, relative to its source tree
MODEL_CACHE = f".cache/qc_models_{MODEL_SEED}.npz"
MODEL_CACHE_PREFIX = "/.cache/qc_models_"

CLIP_COLS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]


def _clip_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("clip_id", pa.string()),
            ("bytes", pa.binary()),
            ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()),
            ("codec", pa.string()),
            ("transcript", pa.string()),
        ]
    )


def _write_clips(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(
        pdf[CLIP_COLS], schema=_clip_schema(), preserve_index=False
    )
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="NONE", row_group_size=ROW_GROUP_ROWS)
    os.replace(tmp, path)


def _gen_block(args: tuple[int, int, str]) -> None:
    """Pool worker: generate clips [first, first + n) into one parquet
    file, and their planted-defect labels into a side file."""
    first, n, path = args
    from qcflow.synth import gen_batch

    pdf = gen_batch(np.arange(first, first + n))
    pdf[["clip_id", "codec", "sr_hz", "planted"]].to_parquet(path + ".meta")
    _write_clips(pdf, path)


def _generate(jobs: list[tuple[int, int, str]], workers: int) -> None:
    todo = [j for j in jobs if not os.path.exists(j[2])]
    if not todo:
        return
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(workers, len(todo))) as pool:
        pool.map(_gen_block, todo, chunksize=1)


def seed_blocks(seed: int) -> list[int]:
    rng = np.random.default_rng([seed, 7])
    return sorted(int(b) for b in rng.choice(POOL_BLOCKS, QC_BLOCKS, replace=False))


def _block_path(state: str, b: int) -> str:
    return f"{state}/pool/block{b:03d}.parquet"


def _link_table(files: list[str], dest: str) -> None:
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for k, f in enumerate(files):
        os.link(f, f"{tmp}/part-{k:05d}.parquet")
    shutil.rmtree(dest, ignore_errors=True)  # left by an interrupted prepare
    os.replace(tmp, dest)


def _plant(slice_meta, rng, hot: int, small: int):
    """(source clip_id, copy count) pairs: one hot group of ``hot`` copies,
    ``small`` groups of 1-2 copies of clean decodable rows, and one copy
    of every undecodable row."""
    from qcflow.audio import KNOWN_CODECS, VALID_SR

    clean = slice_meta[
        (slice_meta["planted"] == "")
        & slice_meta["codec"].isin(KNOWN_CODECS)
        & slice_meta["sr_hz"].isin(VALID_SR)
    ]["clip_id"].tolist()
    undecodable = slice_meta[~slice_meta["codec"].isin(KNOWN_CODECS)]["clip_id"]
    picked = rng.choice(clean, 1 + small, replace=False)
    groups = [(str(picked[0]), hot)]
    groups += [(str(c), int(rng.integers(1, 3))) for c in picked[1:]]
    return groups, [(str(c), 1) for c in undecodable]


def _build_payload(src: str, n: int, rng, dest: str, hot: int, small: int) -> dict:
    import pandas as pd
    import pyarrow.parquet as pq

    meta = pd.read_parquet(src + ".meta").head(n)
    groups, undecodable = _plant(meta, rng, hot, small)
    rows = pq.read_table(src).to_pandas().head(n).set_index("clip_id", drop=False)
    copies = []
    for cid, n in groups + undecodable:
        for k in range(n):
            row = rows.loc[cid].copy()
            row["clip_id"] = f"{cid}-r{k:02d}"
            copies.append(row)
    plants = pd.DataFrame(copies).reset_index(drop=True)
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write_clips(rows, f"{tmp}/part-00000.parquet")
    _write_clips(plants, f"{tmp}/part-00001.parquet")
    shutil.rmtree(dest, ignore_errors=True)  # left by an interrupted prepare
    os.replace(tmp, dest)
    n_undecodable = sum(n for _, n in undecodable)
    return {
        "payload_rows": len(rows) + len(plants),
        "payload_bytes": dir_bytes(dest),
        "planted_copies": len(plants),
        "planted_groups": len(groups),
        "hot_group_copies": hot,
        "undecodable_copies": n_undecodable,
        # every decodable planted group collapses to one survivor; the
        # undecodable copies are never fingerprinted and pass through
        "expected_survivors": len(rows) + n_undecodable,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def redirect_model_cache(root: str, cache_dir: str) -> None:
    """Keep ``qcflow.models.train_models``' on-disk model cache inside the
    checkout ``root``.

    The program caches its trained models at a hard-coded absolute path,
    ``<its source tree>/.cache/qc_models_<seed>.npz``. Run from that
    source tree, the path is inside the checkout and this does nothing:
    the program keeps its own cache file, the one file a run may add to
    the checkout. Run from any other checkout, the path points outside
    it, where the benchmark may not write; then only that path constant
    of the function is replaced by ``cache_dir``, so loading, training
    and saving stay the program's own code. Call it before anything
    calls ``train_models``."""
    import qcflow.models as qm

    fn = qm.train_models.__wrapped__
    code = fn.__code__
    inside = os.path.realpath(root) + os.sep

    def moved(c):
        if not (isinstance(c, str) and c.startswith("/") and c.endswith(MODEL_CACHE_PREFIX)):
            return c
        if os.path.realpath(os.path.dirname(c)).startswith(inside):
            return c
        return cache_dir.rstrip("/") + "/qc_models_"

    consts = tuple(moved(c) for c in code.co_consts)
    if consts != code.co_consts:
        fn.__code__ = code.replace(co_consts=consts)
        os.makedirs(cache_dir, exist_ok=True)


def _reference(table_dir: str, dest: str) -> None:
    import pyarrow.parquet as pq

    from qcflow.reference_labeler import label

    cols = [c for c in CLIP_COLS if c != "bytes"]
    pdf = pq.read_table(table_dir, columns=cols).to_pandas()
    ref = label(pdf, seed=MODEL_SEED)[
        ["clip_id", "keep", "lang", "scrubbed_transcript"]
    ]
    ref.to_parquet(dest + ".tmp")
    os.replace(dest + ".tmp", dest)


def prepare(state: str, seed: int, workers: int) -> dict:
    """Build (or reuse) the block pool, the seed's inputs and the shared
    warm-up table; return the seed's ``truth.json`` contents. Also loads (or trains and
    caches) the program's models, so that the program's one write of its
    own model cache happens here, not in the measured process."""
    from qcflow.models import train_models

    train_models(MODEL_SEED)
    os.makedirs(f"{state}/pool", exist_ok=True)
    seed_dir = f"{state}/seed{seed}"
    truth_path = f"{seed_dir}/truth.json"
    warm = f"{state}/warm"
    blocks = seed_blocks(seed)
    jobs = [(b * BLOCK, BLOCK, _block_path(state, b)) for b in range(POOL_BLOCKS)]
    if not os.path.exists(f"{warm}/clips.parquet"):
        os.makedirs(warm, exist_ok=True)
        jobs.append((WARM_FIRST_INDEX, WARM_ROWS, f"{warm}/block.parquet"))
    _generate(jobs, workers)
    if not os.path.exists(f"{warm}/clips.parquet"):
        # the warm-up payload table: same shape, a few planted groups
        _build_payload(
            f"{warm}/block.parquet",
            WARM_ROWS,
            np.random.default_rng([0, 11]),
            f"{warm}/payload.parquet",
            hot=4,
            small=4,
        )
        _link_table([f"{warm}/block.parquet"], f"{warm}/clips.parquet")
    if os.path.exists(truth_path):
        with open(truth_path) as fh:
            return json.load(fh)
    os.makedirs(seed_dir, exist_ok=True)
    _link_table([_block_path(state, b) for b in blocks], f"{seed_dir}/clips.parquet")
    _reference(f"{seed_dir}/clips.parquet", f"{seed_dir}/ref.parquet")
    truth = {
        "seed": seed,
        "blocks": blocks,
        "qc_rows": QC_BLOCKS * BLOCK,
        "qc_bytes": dir_bytes(f"{seed_dir}/clips.parquet"),
    }
    truth.update(
        _build_payload(
            _block_path(state, blocks[0]),
            PAYLOAD_ROWS,
            np.random.default_rng([seed, 11]),
            f"{seed_dir}/payload.parquet",
            hot=HOT_COPIES,
            small=SMALL_GROUPS,
        )
    )
    with open(truth_path + ".tmp", "w") as fh:
        json.dump(truth, fh)
    os.replace(truth_path + ".tmp", truth_path)
    return truth
