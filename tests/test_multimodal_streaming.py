"""Multimodal plumbing (the image path; other modalities in the media table
are skipped) + streaming ingest smoke (SURVEY.md §2.10 analog)."""

import json
import shutil
import tempfile

import pytest

from od_database_spark.datagen import images as im
from od_database_spark.operators import multimodal as M
from od_database_spark.streaming import ingest as streaming_ingest


@pytest.fixture(scope="module")
def media(spark):
    rows = []
    for i in range(6):
        image_id = f"img_{i:04d}"
        r = im.make_image_row(image_id)
        rows.append((image_id, "image", bytearray(r["bytes"]), {"fmt": r["fmt"]}))
    rows.append(("aud_0001", "audio", bytearray(b"\x01\x02\x03"), {"codec": "wav"}))
    rows.append(("vid_0001", "video", bytearray(b"\x04\x05\x06"), {"codec": "mp4"}))
    return spark.createDataFrame(rows, M.MEDIA).cache()


def test_image_features_real_decode(media):
    feats = {r["media_id"]: r for r in M.decode_image_features(media).collect()}
    assert len(feats) == 6
    for i in range(6):
        image_id = f"img_{i:04d}"
        w, h = im.dims_for(image_id)
        assert (feats[image_id]["w"], feats[image_id]["h"]) == (w, h)
        assert 0 <= feats[image_id]["mean_r"] <= 255


def test_resize_roundtrip(media):
    out = M.resize_images(media, 16, 16).collect()
    assert len(out) == 6
    px = im.decode_png(bytes(out[0]["payload"]))
    assert px.shape == (16, 16, 3)


def test_streaming_ingest_available_now(spark):
    tmp = tempfile.mkdtemp(prefix="oddb_stream_")
    try:
        lines = [
            json.dumps({"name": "a.mp4", "path": "x", "size": 10, "mtime": 1500000000}),
            json.dumps({"name": "b.txt", "path": "", "size": 20, "mtime": 1500000001}),
        ]
        with open(f"{tmp}/7_tok123.NDJSON", "w") as f:
            f.write("\n".join(lines))
        stream = streaming_ingest.stream_crawl_results(spark, tmp)
        got = []

        def sink(batch_df, epoch_id):
            got.extend(batch_df.collect())

        streaming_ingest.run_available_now(stream, sink, f"{tmp}/_ckpt")
        assert len(got) == 2
        by_name = {r["name"]: r for r in got}
        assert by_name["a"]["ext"] == "mp4"
        assert all(r["website_id"] == 7 for r in got)  # from the filename contract
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
