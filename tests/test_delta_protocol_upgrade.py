"""Protocol upgrades to writer 7 keep exactly the features the old
protocol declared: a writer-7 table's ``writerFeatures`` list is
authoritative (no legacy writer-version expansion), while a legacy
reader version 2 still implies ``columnMapping`` — so a
TIMESTAMP_NTZ schema replacement on a column-mapped, row-tracked
(2,7) table keeps ``columnMapping`` on the reader list."""

from __future__ import annotations

import datetime as dt

from census_asc5_data_pipeline_spark.sources import delta_io as d


def test_writer7_features_taken_as_listed():
    clustered = {
        "minReaderVersion": 1,
        "minWriterVersion": 7,
        "writerFeatures": [
            "appendOnly", "clustering", "domainMetadata", "invariants",
        ],
    }
    assert d._protocol_with(
        clustered, reader={"deletionVectors"}, writer={"deletionVectors"}
    ) == {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": [
                "appendOnly", "clustering", "deletionVectors",
                "domainMetadata", "invariants",
            ],
        }
    }
    mapped = {
        "minReaderVersion": 2,
        "minWriterVersion": 7,
        "writerFeatures": [
            "appendOnly", "columnMapping", "domainMetadata", "invariants",
            "rowTracking",
        ],
    }
    assert d._protocol_with(
        mapped, reader={"timestampNtz"}, writer={"timestampNtz"}
    ) == {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["columnMapping", "timestampNtz"],
            "writerFeatures": sorted(
                mapped["writerFeatures"] + ["timestampNtz"]
            ),
        }
    }
    # a writer-only feature leaves the legacy reader version alone
    assert d._protocol_with(mapped, writer={"v2Checkpoint"}) == {
        "protocol": {
            "minReaderVersion": 2,
            "minWriterVersion": 7,
            "writerFeatures": sorted(
                mapped["writerFeatures"] + ["v2Checkpoint"]
            ),
        }
    }


def test_legacy_versions_still_expand():
    assert d._implied_features(
        {"minReaderVersion": 2, "minWriterVersion": 5}
    ) == (
        {"columnMapping"},
        {
            "appendOnly", "invariants", "checkConstraints",
            "changeDataFeed", "generatedColumns", "columnMapping",
        },
    )
    assert d._implied_features(
        {"minReaderVersion": 1, "minWriterVersion": 2}
    ) == (set(), {"appendOnly", "invariants"})


def test_ntz_schema_replacement_keeps_column_mapping(spark, tmp_path):
    p = str(tmp_path / "t")
    d.write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .coalesce(1),
        p,
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableRowTracking": "true",
        },
    )
    p0 = d._replay(spark, p, None)[0]
    assert (p0["minReaderVersion"], p0["minWriterVersion"]) == (2, 7)
    assert "columnMapping" in p0["writerFeatures"]
    ts = dt.datetime(2024, 5, 3, 12, 30)
    d.write_delta(
        spark.createDataFrame(
            [(7, ts), (8, None)], "k long, t timestamp_ntz"
        ).coalesce(1),
        p,
        mode="overwrite",
        overwrite_schema=True,
    )
    p1 = d._replay(spark, p, None)[0]
    assert p1["minReaderVersion"] == 3
    assert {"columnMapping", "timestampNtz"} <= set(p1["readerFeatures"])
    assert set(p0["writerFeatures"]) | {"timestampNtz"} == set(
        p1["writerFeatures"]
    )
    got = d.read_delta(spark, p)
    assert dict(got.dtypes) == {"k": "bigint", "t": "timestamp_ntz"}
    assert sorted(tuple(r) for r in got.collect()) == [(7, ts), (8, None)]
