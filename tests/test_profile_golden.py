"""Golden state digests of the one-pass profiler.

Every member state (ELL, count-sketch, Misra-Gries, KLL) of every group is
pinned by sha256 prefix, together with the exact counters, for all three
entry points. MG and KLL retain sets that depend on how partials are cut
and in which order they merge, so these digests pin the split->task
assignment and the canonical merge order as well as the build itself.
The layouts are chosen so that assignment does not depend on the core
count: spark.range partitions, a single-split table for the pyarrow scan,
and one split per checkpoint bucket.
"""

import hashlib
import shutil

from exaloglog_paper_spark.ops import tokens as tok
from exaloglog_paper_spark.ops.profile import (
    checkpointed_profile,
    profile_token_table,
    scan_profile,
)


def _digests(profs) -> dict:
    def h(b: bytes) -> str:
        return hashlib.sha256(b).hexdigest()[:16]

    return {
        g: (
            h(p.ell.serialize()),
            h(p.cs.serialize()),
            h(p.mg.serialize()),
            h(p.kll.serialize()),
            p.n_docs,
            p.n_tokens,
        )
        for g, p in profs.items()
    }


# group -> (ell, cs, mg, kll sha256 prefixes, n_docs, n_tokens), recorded
# before the profile moved onto the shared aggregation path
GOLDEN_TABLE = {
    "books": ("788457390716b412", "6fd9a2c99d4c5e8f", "1b27271053f78e03", "330dc487fd8e2eb5", 63, 18536),
    "code": ("5c3b6e148adfd803", "fd3257823fb42dcf", "33ec44a28d386a7a", "6a219a37f79a0c80", 37, 12616),
    "forums": ("59ac8da71e1a26e4", "8cc412fe168befc7", "526ec8d6b1cf799d", "f8d566e04b3fbb47", 14, 4881),
    "web": ("c8925c449decffa4", "af588ea6e8b30eff", "f0f0736176234d8c", "562913cdfb621a3e", 256, 86936),
    "wiki": ("cbd6d2436da7e764", "3d57aca587f7870c", "d5a7dd2c51308b15", "c5c89d330982e7c8", 30, 9695),
}
GOLDEN_SCAN = {
    "books": ("70c7f451df3e8fb7", "b3a909fdb9a08fe8", "45184f7a8d499636", "9b06f8117be8b986", 48, 13873),
    "code": ("fd2f23db55905938", "8334caac86721b0e", "fa8b764ac3ec3b03", "360b18a098c3c62a", 29, 9862),
    "forums": ("59a46322ce477dfb", "fa64d598560c6695", "aa3738a8b17c9584", "0f4c217edfe438bd", 11, 3726),
    "web": ("1516b17cc17ba2b3", "ca03392a01c1117a", "f2152f7948789f37", "60343f6f061f1174", 190, 65077),
    "wiki": ("cee94a91257568a1", "6506ca6e977675d3", "b4337b0931336996", "8758dc1146b3ead0", 22, 7185),
}
GOLDEN_CHECKPOINTED = {
    "books": ("70c7f451df3e8fb7", "b3a909fdb9a08fe8", "36b4cd56bb8c6d89", "0c48510657b1ef36", 48, 13873),
    "code": ("fd2f23db55905938", "8334caac86721b0e", "1f34db56a2d25de3", "bbe7c43b41258748", 29, 9862),
    "forums": ("59a46322ce477dfb", "fa64d598560c6695", "295faa29584e9ca7", "d41908a7b99fdc29", 11, 3726),
    "web": ("1516b17cc17ba2b3", "ca03392a01c1117a", "238aadc61e05539d", "60343f6f061f1174", 190, 65077),
    "wiki": ("cee94a91257568a1", "6506ca6e977675d3", "6a5da2bc4b2d8242", "6de104b31436f9ba", 22, 7185),
}


def test_profile_token_table_golden_digests(spark):
    profs = profile_token_table(tok.token_table(spark, 400, num_partitions=7))
    assert _digests(profs) == GOLDEN_TABLE


def test_scan_profile_golden_digests(spark, tmp_path):
    src = str(tmp_path / "one_split")
    tok.token_table(spark, 300, num_partitions=1).write.parquet(src)
    assert _digests(scan_profile(spark, src)) == GOLDEN_SCAN


def test_checkpointed_profile_golden_digests(spark, tmp_path):
    src = str(tmp_path / "four_splits")
    tok.token_table(spark, 300, num_partitions=4).write.parquet(src)
    ck = str(tmp_path / "ck")
    assert _digests(checkpointed_profile(spark, src, ck, num_buckets=4)) == (
        GOLDEN_CHECKPOINTED
    )
    shutil.rmtree(str(tmp_path / "ck" / "bucket=2"))
    assert _digests(checkpointed_profile(spark, src, ck, num_buckets=4)) == (
        GOLDEN_CHECKPOINTED
    )
