"""WebDataset-style tar-shard source: the standard container format for
large-scale multimodal training corpora — many .tar files ("shards"),
each holding samples as groups of members sharing a basename key
(000042.jpg + 000042.txt + 000042.cls = one sample).

Spark-first shape: `binaryFile` scans the shard files (one row per
shard, parallelism = shard count — exactly the WebDataset parallelism
model; shards are sized for that, typically 100 MB-1 GB), then one
`mapInPandas` pass parses the ustar stream with the stdlib ``tarfile``
module and emits members as Arrow batches.  Sample grouping is a
groupBy on the (shard-local) sample key.

At 100 TB: shard files never concatenate on one executor — each is an
independent task; member payloads stream out as Arrow record batches,
so executor memory holds one shard + one batch, not the corpus.  Payload
bytes stay opaque binary: this module scans, it decodes no image or
audio format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEMBER_SCHEMA = (
    "shard string, member string, size long, payload binary"
)


def read_tar_shards(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan tar shard files into one row per member:
    (shard=file basename, member=entry name, size, payload bytes).
    Non-file entries (dirs, links, pax headers) are skipped."""
    bin_df = spark.read.format("binaryFile").load(path_glob)

    def parse(batches):
        import io
        import tarfile

        import pandas as pd

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                shard = os.path.basename(path)
                out: dict[str, list] = {
                    "shard": [],
                    "member": [],
                    "size": [],
                    "payload": [],
                }
                with tarfile.open(fileobj=io.BytesIO(content)) as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        fh = tf.extractfile(m)
                        data = fh.read() if fh is not None else b""
                        out["shard"].append(shard)
                        out["member"].append(m.name)
                        out["size"].append(m.size)
                        out["payload"].append(data)
                yield pd.DataFrame(out)

    return bin_df.select("path", "content").mapInPandas(
        parse, MEMBER_SCHEMA
    )


def group_samples(members: DataFrame) -> DataFrame:
    """WebDataset sample grouping: key = member name up to the FIRST dot
    (so '42.seg.png' groups under '42' with extension 'seg.png'),
    parts = map extension -> payload.  One groupBy on the key; a
    sample's members co-locate, which is the access pattern every
    multimodal training loader needs."""
    key = F.regexp_extract(F.col("member"), r"^([^.]*)", 1)
    ext = F.regexp_extract(F.col("member"), r"^[^.]*\.(.*)$", 1)
    return (
        members.select(
            "shard",
            key.alias("key"),
            ext.alias("ext"),
            "payload",
        )
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_parts"),
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("ext", "payload")))
            ).alias("parts"),
            F.min("shard").alias("shard"),
        )
    )
