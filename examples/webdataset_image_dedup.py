"""WebDataset image near-dup curation, end to end — the multimodal
twin of crawl_to_training_set.py: a directory of .tar(.gz) shards in,
a smaller deduplicated WebDataset out, every stage distributed.

    python examples/webdataset_image_dedup.py <shard_dir> <out_dir>

Stages (all production operators):
1. tar_import           — shards decoded in parallel, bounded Arrow batches
2. image_dhash          — real PNG/GIF/JPEG decode -> 64-bit dHash
3. dhash_near_pairs     — banded-Hamming candidates (100% recall at
                          <= max_hamming, no cross join)
4. near_dedup           — the one-call composite: pairs -> connected
                          components -> min-key survivor selection,
                          plus the dropped-groups report
5. tar_export           — survivors re-sharded sample-adjacent

Rotated or differently-cropped images do NOT pair (dHash is a
same-orientation signature); raise max_hamming for more tolerance to
recompression/resizing, and pass bucket_cap when the corpus carries
flat-color images (they all hash 0 and would make one degenerate
block).
"""

import sys

from pyspark.sql import functions as F

from accelerator_spark import get_spark
from accelerator_spark.operators.dedup import near_dedup
from accelerator_spark.operators.multimodal import (
    dhash_near_pairs, image_dhash)
from accelerator_spark.sources.tar import tar_export, tar_import

IMAGE_EXTS = ("png", "jpg", "jpeg", "gif")


def main(shard_dir: str, out_dir: str, max_hamming: int = 6) -> int:
    spark = get_spark(app_name="webdataset_image_dedup")

    # 1. members in: every (sample_key, ext, payload) row of the corpus
    members = tar_import(spark, shard_dir)

    # 2-3. perceptual candidates over the image parts only
    images = members.filter(F.col("ext").isin(*IMAGE_EXTS)).select(
        F.col("sample_key").alias("media_id"), "payload",
        F.lit("image/png").alias("mime"))  # decode sniffs real magic
    pairs = dhash_near_pairs(image_dhash(images, on_error="null"),
                             max_hamming=max_hamming,
                             bucket_cap=10_000)

    # 4. one-call near-dedup over the sample keys: components + min-key
    # survivor selection in one operator; `report` is the dropped-
    # groups ledger (member -> surviving key, group size) to land
    # beside the corpus for provenance
    samples = members.select("sample_key").distinct()
    kept, report = near_dedup(samples, id_col="sample_key", pairs=pairs)
    survivors = members.join(kept, "sample_key", "left_semi")

    # 5. survivors out, sample-adjacent, bounded-memory streamed write
    return tar_export(survivors.select("sample_key", "ext", "payload"),
                      out_dir, samples_per_shard=10_000)


if __name__ == "__main__":
    n = main(sys.argv[1], sys.argv[2])
    print(f"wrote {n} members")
