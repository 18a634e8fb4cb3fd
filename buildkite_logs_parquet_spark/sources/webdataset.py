"""WebDataset-style tar shard sink + reader: the de-facto handoff
format for multimodal training loaders (webdataset/torchdata convention
— one POSIX ustar tar per shard, one file per sample per modality,
``<key>.<ext>`` naming, samples contiguous within a shard).

The format itself is public and trivially simple; what the engine adds
is the DISTRIBUTED, DETERMINISTIC materialization:

* shard membership is a pure content hash of the sample key (the
  ``write_training_shards`` discipline — a sample's shard never changes
  as the corpus grows, shards balance by hash uniformity);
* sample order within a shard is a content-hash shuffle key (rule-6
  total order), so re-exports are byte-identical;
* tar metadata is PINNED (mtime=0, uid=gid=0, mode=0o644) — two runs
  over the same corpus produce bit-identical shard files, so shard
  digests are comparable across rebuilds (the catalog/manifest story);
* each executor writes only its own shards; the returned manifest
  ``(shard, n_samples, n_bytes, digest)`` is computed from the BYTES
  WRITTEN, certifying the files, not the plan.

Filesystem contract: like ``sources/catalog.py``, ``path`` must be a
POSIX filesystem every EXECUTOR can reach (local disk on local[N], a
shared mount on a cluster); object stores route through a FUSE mount
or a post-copy.

100 TB shape: one hash shuffle (repartition on shard) + a sorted
streaming write per shard — executor memory holds one Arrow batch at a
time, never a whole shard; the reader parallelizes one task per tar.

Reference parity note: no counterpart in the reference repo; this
extends the training-export tier.
"""

from __future__ import annotations

import hashlib
import io
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    content_cols: dict[str, str],
    n_shards: int,
    seed: int = 42,
) -> DataFrame:
    """Export ``df`` as ``shard-%05d.tar`` WebDataset shards.

    ``content_cols`` maps dataframe columns to member extensions, e.g.
    ``{"payload": "jpg", "meta_json": "json"}`` → members
    ``<key>.jpg``, ``<key>.json`` per sample.  Binary columns write
    verbatim; string columns write UTF-8.  NULL content skips that
    member (a sample may lack a modality); NULL keys are rejected.

    Returns the manifest DataFrame ``(shard, n_samples, n_bytes,
    digest)`` — digest = md5 of the finished tar bytes, meaningful
    because the tar is deterministic (pinned metadata + content-hash
    sample order)."""
    from buildkite_logs_parquet_spark.operators.curation import hash_bucket

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if not content_cols:
        raise ValueError("content_cols must name at least one column")
    os.makedirs(path, exist_ok=True)
    key = F.col(key_col)
    cols = list(content_cols)
    tagged = (
        df.select(
            key.cast("string").alias("_key"),
            (hash_bucket(key.cast("string"), seed) % F.lit(int(n_shards)))
            .cast("int")
            .alias("_shard"),
            hash_bucket(key.cast("string"), seed + 1).alias("_ord"),
            *cols,
        )
        .where(F.col("_key").isNotNull())
        .repartition(int(n_shards), "_shard")
        .sortWithinPartitions("_shard", "_ord", "_key")
    )

    exts = dict(content_cols)

    def _write(batches):
        import pandas as pd

        open_shards: dict[int, tuple] = {}  # shard -> (fh, tar, state)

        def _open(shard: int):
            fp = os.path.join(path, f"shard-{shard:05d}.tar")
            fh = open(fp, "wb")
            tar = tarfile.open(fileobj=fh, mode="w", format=tarfile.USTAR_FORMAT)
            return fh, tar, {"n": 0, "fp": fp}

        for pdf in batches:
            # to_dict, not itertuples: namedtuples rename the
            # underscore-prefixed control columns positionally
            for d in pdf.to_dict("records"):
                shard = int(d["_shard"])
                if shard not in open_shards:
                    open_shards[shard] = _open(shard)
                _, tar, state = open_shards[shard]
                wrote = False
                for c in cols:
                    v = d[c]
                    if v is None or (isinstance(v, float) and pd.isna(v)):
                        continue
                    blob = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
                    info = tarfile.TarInfo(name=f"{d['_key']}.{exts[c]}")
                    info.size = len(blob)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    info.mode = 0o644
                    tar.addfile(info, io.BytesIO(bytes(blob)))
                    wrote = True
                if wrote:
                    state["n"] += 1
        out = []
        for shard, (fh, tar, state) in sorted(open_shards.items()):
            tar.close()
            fh.close()
            # streaming digest: a shard can be executor-memory-sized or
            # larger — never read the whole tar back into one buffer
            h = hashlib.md5()
            n_bytes = 0
            with open(state["fp"], "rb") as f:
                while True:
                    chunk = f.read(1 << 20)
                    if not chunk:
                        break
                    h.update(chunk)
                    n_bytes += len(chunk)
            out.append(
                {
                    "shard": shard,
                    "n_samples": state["n"],
                    "n_bytes": n_bytes,
                    "digest": h.hexdigest(),
                }
            )
        yield pd.DataFrame(
            out, columns=["shard", "n_samples", "n_bytes", "digest"]
        )

    manifest = tagged.mapInPandas(
        _write, "shard int, n_samples long, n_bytes long, digest string"
    )
    # materialize the write NOW (mapInPandas is lazy); keep the manifest
    # small and driver-held so callers can assert on it immediately
    rows = manifest.collect()
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "shard int, n_samples long, n_bytes long, digest string"
    )


def read_webdataset(
    spark: SparkSession, path: str, binary_exts: set[str] | None = None
) -> DataFrame:
    """Read WebDataset shards back into ``(key, ext, content binary,
    shard)`` rows — one task per tar, stdlib ``tarfile`` parse.  Group
    by key downstream to reassemble samples.  ``binary_exts`` is
    advisory only (everything returns as binary; decode is the
    caller's)."""
    import glob as _glob

    tars = sorted(_glob.glob(os.path.join(path, "shard-*.tar")))
    if not tars:
        raise FileNotFoundError(f"no shard-*.tar under {path}")
    sc = spark.sparkContext

    def _parse(fp: str):
        shard = int(os.path.basename(fp)[len("shard-") : -len(".tar")])
        with tarfile.open(fp, "r") as tar:
            for m in tar:
                if not m.isfile():
                    continue
                stem, dot, ext = m.name.rpartition(".")
                f = tar.extractfile(m)
                yield (stem if dot else m.name, ext if dot else "", f.read(), shard)

    rdd = sc.parallelize(tars, len(tars)).flatMap(_parse)
    return spark.createDataFrame(
        rdd, "key string, ext string, content binary, shard int"
    )
