import os

import pandas as pd
import pyarrow.parquet as pq

import inputs
import prepare
from yahoo_anomaly_detection_spark import synthgen


def test_transcripts_equal_gen_transcripts(spark, tmp_path):
    n = 12
    path = str(tmp_path / "t.parquet")
    inputs.write_parquet(inputs.transcripts_table(inputs.transcripts(7, n)),
                         path)
    key = ["conv_id", "turn_idx"]
    df = spark.read.parquet(path)
    assert [(f.name, f.dataType) for f in df.schema] == \
        [(f.name, f.dataType) for f in synthgen.TRANSCRIPTS_SCHEMA]
    got = df.toPandas().sort_values(key)
    want = synthgen.gen_transcripts(spark, n, seed=7).toPandas().sort_values(key)
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  want.reset_index(drop=True))


def test_refresh_slices_are_equal_sized_and_in_order(tmp_path, monkeypatch):
    monkeypatch.setattr(prepare, "N_SLICES", 4)
    out = str(tmp_path / "tr")
    os.makedirs(out)
    meta = prepare._transcripts(5, 60_000, out)
    assert len(meta["slice_turns"]) == 4
    assert len(set(meta["slice_turns"])) == 1
    prev = pq.read_table(os.path.join(out, "bronze.parquet")).to_pandas()
    assert len(prev) == meta["bronze_turns"]
    last = prev.groupby("conv_id")["turn_idx"].max()
    for k in range(prepare.N_SLICES):
        part = pq.read_table(os.path.join(out, f"slice_{k}.parquet")).to_pandas()
        first = part.groupby("conv_id")["turn_idx"].min()
        common = first.index.intersection(last.index)
        assert (first[common] > last[common]).all()
        last = pd.concat([last, part.groupby("conv_id")["turn_idx"].max()]
                         ).groupby(level=0).max()


def test_inputs_depend_only_on_seed():
    assert inputs.events(3, 500).equals(inputs.events(3, 500))
    assert not inputs.events(3, 500).equals(inputs.events(4, 500))
    assert inputs.documents(3, 700).equals(inputs.documents(3, 700))
    assert inputs.convs_for_turns(3, 5000) == inputs.convs_for_turns(3, 5000)
