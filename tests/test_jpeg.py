"""JPEG header reader on real third-party files: the (width, height)
of the first SOFn segment, compared with the dimensions a full T.81
decode reports for each file. Files absent on a host are skipped."""

import os
import shutil

import pytest

from neuscraper_spark.operators.media_probe import _inventory_row, probe_jpeg

# Spark's mllib test images and the nodejs doc assets next to the node
# binary, with their (w, h) as a full decode reports them
_SPARK_IMAGES = os.path.join(os.environ.get("SPARK_HOME", ""), "data/mllib/images/origin")
_NODE_DOCS = os.path.join(
    os.path.dirname(os.path.dirname(shutil.which("node") or "/")), "share/doc/nodejs"
)
# baseline (SOF0) files
_BASELINE_DIMS = {
    os.path.join(_SPARK_IMAGES, "kittens/29.5.a_b_EGDP022204.jpg"): (300, 200),
    os.path.join(_SPARK_IMAGES, "kittens/54893.jpg"): (300, 311),
    os.path.join(_SPARK_IMAGES, "kittens/DP153539.jpg"): (300, 296),
    os.path.join(_SPARK_IMAGES, "kittens/DP802813.jpg"): (199, 313),
    os.path.join(_SPARK_IMAGES, "multi-channel/chr30.4.184.jpg"): (300, 215),
}
# progressive (SOF2) files
_PROGRESSIVE_DIMS = {
    os.path.join(_SPARK_IMAGES, "multi-channel/grayscale.jpg"): (300, 215),
    os.path.join(_NODE_DOCS, "full-white-stripe.jpg"): (493, 312),
    os.path.join(_NODE_DOCS, "thin-white-stripe.jpg"): (493, 58),
}
_BASELINE = sorted(p for p in _BASELINE_DIMS if os.path.exists(p))
_PROGRESSIVE = sorted(p for p in _PROGRESSIVE_DIMS if os.path.exists(p))


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


@pytest.mark.skipif(not _BASELINE, reason="no baseline third-party JPEGs on this host")
def test_decode_real_world_files():
    """Baseline JPEGs: the SOFn walk and the inventory dispatch both
    give the decoded dimensions."""
    for path in _BASELINE:
        payload = _read(path)
        assert probe_jpeg(payload) == _BASELINE_DIMS[path], path
        row = _inventory_row(payload)
        assert (row["fmt"], row["width"], row["height"], row["err"]) == (
            "jpeg", *_BASELINE_DIMS[path], None), path


@pytest.mark.skipif(not _PROGRESSIVE, reason="no progressive JPEGs on this host")
def test_decode_real_world_progressive():
    """Progressive JPEGs: their frame header is a SOF2, which the walk
    reads like a SOF0. grayscale.jpg also carries a SOF0 inside an
    APP segment ahead of its own frame header; the walk skips it."""
    for path in _PROGRESSIVE:
        payload = _read(path)
        assert probe_jpeg(payload) == _PROGRESSIVE_DIMS[path], path
        row = _inventory_row(payload)
        assert (row["fmt"], row["width"], row["height"], row["err"]) == (
            "jpeg", *_PROGRESSIVE_DIMS[path], None), path
