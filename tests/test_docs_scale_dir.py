"""``write_scale_dir`` regenerates a table directory from scratch when
the marker for the requested shape is absent: part files and markers
of an earlier layout must not survive beside the new ones."""

import os

import pandas as pd

from gdal_spark.sources.docs import write_scale_dir


def _parts(d):
    return sorted(f for f in os.listdir(d) if f.startswith("part-"))


def test_regenerate_with_fewer_rows_leaves_no_stale_parts(tmp_path):
    root = str(tmp_path / "docs")
    docs = os.path.join(root, "documents.parquet")
    write_scale_dir(root, n_docs=25_000, n_vecs=2_500, chunk=2_500)
    assert len(_parts(docs)) == 10

    write_scale_dir(root, n_docs=5_000, n_vecs=2_500, chunk=2_500)
    assert _parts(docs) == ["part-0000.parquet", "part-0001.parquet"]
    ids = pd.read_parquet(docs)["doc_id"]
    assert len(ids) == 5_000 and ids.is_unique
    assert len(pd.read_parquet(os.path.join(root, "embeddings.parquet"))) == 2_500
    # the old shape's marker is gone, so asking for it again rebuilds
    assert [f for f in os.listdir(root) if f.startswith(".synth_")] == [
        ".synth_v3_5000_2500"
    ]
