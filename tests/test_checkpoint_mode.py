"""Reliable-checkpoint mode: with `spark.checkpoint.dir` set on the
session, the lineage-truncating operators write reliable checkpoints
there and return the same results as the local-checkpoint default
(harness: tests/reliable_mode.py)."""

import glob

from reliable_mode import OPS


def test_reliable_checkpoint_mode_matches_local(reliable_mode):
    for name in OPS:
        reliable_mode.assert_matches_local(name)
    local = reliable_mode.local
    assert local["minhash"] and local["ngram"] and local["windows"]
    assert glob.glob(f"{reliable_mode.ckpt_dir}/*/rdd-*/part-*")
