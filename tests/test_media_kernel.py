"""Spark-free tests of the per-row media kernel (`media._row_batches` /
`media._per_row`): the batch function is driven with plain pandas
frames, and the public operators are wired through a stand-in frame
that captures what they hand to ``mapInPandas``."""

from __future__ import annotations

import importlib
import sys
import types

import pandas as pd
import pytest

from github_etl_spark.multimodal import media


class _Capture:
    """Stands in for a DataFrame: keeps the batch function an operator
    maps with, so it can run over plain pandas frames."""

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self

    def run(self, *pdfs):
        return pd.concat(list(self.fn(iter(pdfs))), ignore_index=True)


def test_row_batches_fan_out_quarantine_and_column_order():
    names = ["media_id", "frame_index", "n_bytes", "decode_error"]

    def row(mid, content):
        if content is None:
            return [(int(mid), None, 0, None)]
        if content.startswith(b"bad"):
            raise ValueError(f"corrupt payload {content!r}")
        # 1→N: one row per byte, zero rows for an empty payload
        return [(int(mid), i, 1, None) for i in range(len(content))]

    batches = media._row_batches(
        ("media_id", "content"), names, row, error_row=(-1, None)
    )
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2, 3, 4],
            "content": [b"abc", None, b"bad!", b""],
            "ignored": ["x", "y", "z", "w"],
        }
    )
    empty = pdf.iloc[:0]
    out = list(batches(iter([pdf, empty])))
    assert len(out) == 2
    got, zero = out
    assert list(got.columns) == names and list(zero.columns) == names
    assert len(zero) == 0
    rows = [tuple(None if pd.isna(v) else v for v in r) for r in got.itertuples(index=False)]
    assert rows == [
        (1, 0, 1, None),
        (1, 1, 1, None),
        (1, 2, 1, None),
        (2, None, 0, None),  # NULL payload: the row function's own NULL row
        (3, -1, None, "corrupt payload b'bad!'"),  # quarantine row
    ]  # id 4: empty payload fans out to zero rows


def test_row_batches_without_error_row_propagates():
    def row(mid):
        raise ValueError("boom")

    batches = media._row_batches(("media_id",), ["media_id"], row)
    with pytest.raises(ValueError, match="boom"):
        list(batches(iter([pd.DataFrame({"media_id": [1]})])))


def test_raw_u8_operators_run_when_pillow_is_importable(monkeypatch):
    """A host with Pillow installed must not change what the raw-u8
    operators do: they read payload bytes as samples, always."""
    pil = types.ModuleType("PIL")
    pil.Image = types.ModuleType("PIL.Image")
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", pil.Image)
    mod = importlib.reload(media)
    try:
        meta = [
            {"media_type": "video", "n_frames": 2},
            {"media_type": "image", "n_frames": 1},
            {"media_type": "video", "n_frames": None},
        ]
        pdf = pd.DataFrame(
            {
                "media_id": [1, 2, 3],
                "meta": meta,
                "content": [b"\x00\x02\x04\x06", None, b"\x09"],
            }
        )
        stats = mod.decode_stats(_Capture()).run(pdf)
        assert list(stats["n_bytes"]) == [4, 0, 1]
        assert stats["mean_value"][0] == 3.0 and pd.isna(stats["mean_value"][1])
        resized = mod.resize_images(_Capture(), 2, 1).run(pdf)
        assert list(resized["content"]) == [b"\x00\x06", b"\x00\x00", b"\x09\x09"]
        frames = mod.sample_frames(_Capture(), every_n=1).run(pdf)
        assert list(zip(frames["media_id"], frames["frame_index"], frames["frame"])) == [
            (1, 0, b"\x00\x02"),
            (1, 1, b"\x04\x06"),
            (3, 0, b"\x09"),
        ]
    finally:
        monkeypatch.undo()
        importlib.reload(media)

