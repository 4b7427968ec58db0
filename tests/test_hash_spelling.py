"""Each portable hash has one DuckDB spelling.

The oracles replay the engine's md5 hashes as SQL text: the bucket
``(prefix8(md5) as a long) % n`` is ``operators/pipeline.sql_hash_bucket``
and the 60-bit long ``prefix15(md5)`` is ``operators/dedup.sql_md5_long``.
This lint reads every module under ``github_etl_spark/`` (no Spark) and
fails when a module other than those two spells ``substr(md5(`` by
hand. It also fails when ``streaming/stateful.py`` names ``xxhash64``:
the live streaming sketches shard and rank by the same md5 hashes their
oracle-checked replays use. The vector quantizer ``floor(v*1000 + 0.5)``
has one DuckDB spelling too, ``operators/similarity.sql_quantize``.
"""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "github_etl_spark"
SPELLERS = {LIB / "operators" / "pipeline.py", LIB / "operators" / "dedup.py"}
STATEFUL = LIB / "streaming" / "stateful.py"
SIMILARITY = LIB / "operators" / "similarity.py"


def _hits(paths, needle: str) -> list[str]:
    return [
        f"{p.relative_to(ROOT)}:{i}"
        for p in paths
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if needle in line.lower()
    ]


def test_md5_prefix_is_spelled_only_by_the_hash_helpers():
    paths = [p for p in sorted(LIB.rglob("*.py")) if p not in SPELLERS]
    assert paths, f"no modules found under {LIB}"
    bad = _hits(paths, "substr(md5(")
    assert not bad, (
        "md5 prefix spelled by hand; call sql_hash_bucket or sql_md5_long:\n"
        + "\n".join(bad)
    )


def test_streaming_sketches_use_no_xxhash64():
    bad = _hits([STATEFUL], "xxhash64")
    assert not bad, "xxhash64 in the streaming sketches:\n" + "\n".join(bad)


def test_quantizer_is_spelled_only_by_sql_quantize():
    paths = [p for p in sorted(LIB.rglob("*.py")) if p != SIMILARITY]
    bad = _hits(paths, "floor(cast(v as double)")
    assert not bad, (
        "vector quantizer spelled by hand; call sql_quantize:\n"
        + "\n".join(bad)
    )
