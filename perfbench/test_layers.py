"""Tests of the per-layer folding of a traced run.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import layers


def span(id_, name, start, end, parent=0, attrs=None, tags=None):
    return {"id": id_, "parent": parent, "name": name, "start_ms": start, "end_ms": end,
            "attrs": attrs or {}, "tags": tags or {}}


def query(span_id, path, rows, files=1.0, bytes_=100.0):
    return {"span": span_id, "plan_ms": 1.0, "exec_ms": 2.0,
            "scans": [{"path": path, "files": files, "bytes": bytes_, "rows": rows}]}


RUN = {"samples": {}, "values": {}}


class LakeReadAmplificationTest(unittest.TestCase):
    def test_only_merges_into_an_existing_lake_count(self):
        lake = {"lake": "/w/lake"}
        trace = {
            "spans": [
                # day 1: a new lake, re-counted after its write
                span(1, "lake.upsert", 0, 10, attrs={"existed": 0.0, "batch_rows": 20000.0}, tags=lake),
                # two day-2 merges
                span(2, "lake.upsert", 20, 30, attrs={"existed": 1.0, "batch_rows": 5000.0}, tags=lake),
                span(3, "lake.upsert", 40, 50, attrs={"existed": 1.0, "batch_rows": 4000.0}, tags=lake),
            ],
            "jobs": [],
            "queries": [
                query(1, "/w/lake", 20000.0),
                query(2, "/w/lake", 15000.0),
                query(2, "/w/lake/data_source=chase", 9999.0),  # not the lake root
                query(3, "/w/lake", 16000.0),
            ],
        }
        m, _, _ = layers.per_layer(trace, RUN)
        self.assertEqual(m["lake.existing_rows_read"], 15500.0)
        self.assertEqual(m["lake.read_amplification"], (15000 / 5000 + 16000 / 4000) / 2)


class WarmUpExclusionTest(unittest.TestCase):
    def test_calls_under_a_warm_span_are_left_out(self):
        trace = {
            "spans": [
                span(1, "api.warm", 0, 100),
                span(2, "api.lookup", 0, 90, parent=1, attrs={"rows_returned": 1.0}),
                span(3, "api.lookup", 100, 110, attrs={"rows_returned": 1.0}),
                span(4, "api.lookup", 110, 120, attrs={"rows_returned": 1.0}),
            ],
            "jobs": [],
            "queries": [query(2, "/w/lake", 900.0), query(3, "/w/lake", 30.0), query(4, "/w/lake", 50.0)],
        }
        m, _, table = layers.per_layer(trace, RUN)
        self.assertEqual(m["query.lookup.rows_scanned_per_row_returned"], 40.0)
        self.assertEqual(table["api.lookup"]["count"], 3)


if __name__ == "__main__":
    unittest.main()
