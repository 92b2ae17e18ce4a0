"""Binary token-shard export — the training-data last mile.

A pretraining job does not read parquet text; it reads fixed-width
binary shards of token ids (a flat uint16/uint32 array per shard plus
an index of sequence offsets — the Megatron/nanoGPT `.bin/.idx`
shape).  This module writes that layout from a packed-sequence
DataFrame, distributed:

- every shard is produced by exactly ONE task (``applyInPandas`` over
  the shard key), which concatenates its sequences' token ids in
  (pack_id, seq order) and writes ``<root>/shard-<key>.bin`` (little-
  endian) plus ``<root>/shard-<key>.idx.json`` (sequence offsets);
- tasks return one manifest row each; the driver commits
  ``<root>/_MANIFEST`` listing every shard with its sequence/token
  counts — the same all-or-nothing two-phase contract (sources/
  _manifest.py) as the filing-tree sink ``filings.save_filings``:
  readers that key on the manifest never see a partial export.

Tokenization here is the repo's deterministic md5-bucket fake (the
real tokenizer is an injectable kernel like the multimodal decoders —
the SHAPE of the pipeline is what Spark owns): token id =
md5_hash64(token) % vocab_size, so round-trips are value-checkable.

Read-back (``read_token_shards``) goes through ``binaryFile`` +
``mapInPandas`` decode, and the round-trip test asserts bytes → ids
equality against the pre-export frame.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from . import _manifest

DTYPE_WIDTH = 2  # token-id byte width; wired to both the bound check
DTYPE = f"<u{DTYPE_WIDTH}"  # ...and the on-disk little-endian format
ID_LIMIT = 1 << (8 * DTYPE_WIDTH)


def tokenize_ids(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int = 50_000
) -> DataFrame:
    """(id, token_ids: array<int>, n_tokens) via the deterministic
    md5-bucket tokenizer (vocab must fit uint16 ≤ 65535)."""
    if vocab_size > ID_LIMIT:
        raise ValueError(
            f"vocab_size {vocab_size} exceeds uint{8 * DTYPE_WIDTH}"
        )
    ids = F.transform(
        T.tokens(text_col),
        lambda t: (T.md5_hash64(t) % vocab_size).cast("int"),
    )
    return df.select(
        F.col(id_col),
        ids.alias("token_ids"),
        F.size(ids).alias("n_tokens"),
    )


def write_token_shards(
    packed: DataFrame,
    root: str,
    shard_col: str = "shard",
    order_cols: tuple[str, ...] = ("pack_id", "doc_id"),
) -> int:
    """Write ``packed`` (shard, …order cols…, token_ids) as binary
    shards under ``root``; returns the number of shards committed.

    One task per shard value; the manifest commits LAST on the driver,
    so a failed/retried task can leave orphan ``.bin`` files but never
    a manifest that lists them (readers key on the manifest —
    ``manifest`` arg of :func:`read_token_shards`)."""
    import pandas as pd

    os.makedirs(root, exist_ok=True)
    order = list(order_cols)

    def write_one(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        key = pdf[shard_col].iloc[0]
        pdf = pdf.sort_values(order, kind="mergesort")
        arrs, offsets, pos = [], [], 0
        for x in pdf["token_ids"]:
            a = np.asarray(x)
            # validate BEFORE the narrowing cast: numpy's unsafe cast
            # would silently wrap out-of-range ids (e.g. a real
            # tokenizer's 100k vocab) into corrupt-but-committed shards
            if a.size and (a.min() < 0 or a.max() >= ID_LIMIT):
                raise ValueError(
                    f"token id out of uint{8 * DTYPE_WIDTH} range in "
                    f"shard {key}: [{a.min()}, {a.max()}]"
                )
            arrs.append(a.astype(DTYPE))
            offsets.append(pos)
            pos += len(a)
        flat = np.concatenate(arrs)
        path = os.path.join(root, f"shard-{key}.bin")
        _manifest.write_atomic(path, flat.tobytes())
        _manifest.write_atomic(
            os.path.join(root, f"shard-{key}.idx.json"),
            json.dumps({"offsets": offsets, "n_tokens": int(pos)}),
        )
        return pd.DataFrame(
            {
                "shard": [key],
                "n_seqs": [len(pdf)],
                "n_tokens": [int(pos)],
                "file": [path],
            }
        )

    manifest_rows = (
        packed.groupBy(shard_col)
        .applyInPandas(
            write_one, "shard string, n_seqs long, n_tokens long, file string"
        )
        .collect()  # bounded: one row per SHARD, not per sequence
    )
    _manifest.commit(
        root,
        (
            json.dumps(
                {
                    "shard": r["shard"],
                    "n_seqs": r["n_seqs"],
                    "n_tokens": r["n_tokens"],
                    "file": os.path.basename(r["file"]),
                }
            )
            for r in sorted(manifest_rows, key=lambda r: r["shard"])
        ),
    )
    return len(manifest_rows)


def read_manifest(root: str) -> list[dict]:
    with open(os.path.join(root, _manifest.MANIFEST)) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def read_token_shards(spark: SparkSession, root: str) -> DataFrame:
    """(shard, seq_idx, token_ids) decoded from the committed shards —
    only files listed in ``_MANIFEST`` are read (orphans from failed
    attempts are invisible), via binaryFile + Arrow decode."""
    entries = read_manifest(root)
    paths = [os.path.join(root, e["file"]) for e in entries]
    if not paths:
        return spark.createDataFrame(
            [], "shard string, seq_idx long, token_ids array<int>"
        )
    bins = spark.read.format("binaryFile").load(paths)

    def decode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = {"shard": [], "seq_idx": [], "token_ids": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                name = os.path.basename(path)
                shard = name[len("shard-"):-len(".bin")]
                with open(
                    os.path.join(root, f"shard-{shard}.idx.json")
                ) as fh:
                    idx = json.load(fh)
                flat = np.frombuffer(content, dtype=DTYPE)
                offs = idx["offsets"] + [idx["n_tokens"]]
                for i in range(len(offs) - 1):
                    out["shard"].append(shard)
                    out["seq_idx"].append(i)
                    out["token_ids"].append(
                        flat[offs[i]:offs[i + 1]].astype("int32")
                    )
            yield pd.DataFrame(out)

    return bins.select("path", "content").mapInPandas(
        decode, "shard string, seq_idx long, token_ids array<int>"
    )
