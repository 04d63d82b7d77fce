"""Tests of the benchmark's own pieces: seeded inputs, the generator's
expected outputs, the digest and the metric names.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import datetime as dt
import decimal
import json
import os
import re
import sys
import tempfile
import unittest
import xml.etree.ElementTree as ET

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def recount(path):
    """Expected outputs recomputed from the XML alone, by the shaper's rules."""
    exp = {t: {} for t in ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes", "corrupt")}

    def add(t, **kv):
        d = exp[t]
        d["rows"] = d.get("rows", 0) + 1
        for k, v in kv.items():
            d[k] = d.get(k, 0) + v

    def as_long(x):
        try:
            return int(x)
        except (TypeError, ValueError):
            return None

    for _, el in ET.iterparse(path):
        if el.tag not in ("node", "way", "relation"):
            continue
        a = el.attrib
        eid, uid = as_long(a.get("id")), as_long(a.get("uid"))
        try:
            ts = dt.datetime.strptime(a.get("timestamp", ""), "%Y-%m-%dT%H:%M:%SZ")
        except ValueError:
            ts = None
        valid = eid is not None and uid is not None and ts is not None
        if el.tag == "node":
            valid = valid and -90 <= float(a["lat"]) <= 90 and -180 <= float(a["lon"]) <= 180
        if not valid:
            add("corrupt", id=eid)
        elif el.tag in ("node", "way"):
            plural = el.tag + "s"
            add(plural, id=eid, uid=uid, changeset=int(a["changeset"]))
            for t in el.findall("tag"):
                shaped = inputs._shaped_tag(t.get("k"), t.get("v"))
                if shaped:
                    add(plural + "_tags", id=eid, value_len=len(shaped[1]),
                        key_len=len(shaped[0]))
            for pos, nd in enumerate(el.findall("nd")):
                add("ways_nodes", id=eid, node_id=int(nd.get("ref")), position=pos)
        el.clear()
    return exp


class InputsTest(unittest.TestCase):

    def test_osm_is_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            blobs = []
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                inputs.write_osm(f"{d}/{name}.osm", seed, 2000)
                blobs.append(open(f"{d}/{name}.osm", "rb").read())
        self.assertEqual(blobs[0], blobs[1])
        self.assertNotEqual(blobs[0], blobs[2])

    def test_osm_expected_outputs_match_the_xml(self):
        with tempfile.TemporaryDirectory() as d:
            size, counts, expected = inputs.write_osm(f"{d}/x.osm", 3, 5000)
            self.assertEqual(size, os.path.getsize(f"{d}/x.osm"))
            self.assertEqual(expected, recount(f"{d}/x.osm"))
        self.assertEqual(counts["node"], 5000)
        self.assertEqual(counts["invalid"], expected["corrupt"]["rows"])
        # every output is non-empty and the invalid share is as designed
        self.assertTrue(all(v["rows"] > 0 for v in expected.values()))
        elements = counts["node"] + counts["way"] + counts["relation"]
        self.assertAlmostEqual(counts["invalid"] / elements, inputs.INVALID_SHARE, delta=0.01)

    def test_street_mapping_and_problem_keys(self):
        self.assertEqual(inputs._shaped_tag("addr:street", "12 Main St."),
                         ("street", "12 Main Street", "addr"))
        self.assertEqual(inputs._shaped_tag("addr:street", "12 Main Court"),
                         ("street", "12 Main Court", "addr"))
        self.assertEqual(inputs._shaped_tag("name:en", "x"), ("en", "x", "name"))
        self.assertEqual(inputs._shaped_tag("amenity", "x"), ("amenity", "x", "regular"))
        self.assertIsNone(inputs._shaped_tag("name with space", "x"))

    def test_tables_are_deterministic_per_seed(self):
        a, b, c = (inputs.table_data(s, 0.001) for s in (5, 5, 6))
        import pyarrow as pa
        for name in inputs.TABLES:
            self.assertTrue(pa.table(a[name]).equals(pa.table(b[name])), name)
        self.assertFalse(pa.table(a["lineitem"]).equals(pa.table(c["lineitem"])))
        self.assertEqual(sorted(a), sorted(inputs.TABLES))
        self.assertEqual(len(a["lineitem"]["l_orderkey"]), 6000)

    def test_op_order_is_a_seeded_permutation(self):
        q = workloads.QUERY_SHORT
        self.assertEqual(run.op_order(q, 11), run.op_order(q, 11))
        self.assertNotEqual(run.op_order(q, 11), run.op_order(q, 12))
        self.assertEqual(sorted(run.op_order(q, 11)), sorted(q))


class DigestTest(unittest.TestCase):

    def test_row_order_and_numeric_noise_do_not_matter(self):
        cols = ["b", "a"]
        rows = [(1.0000000000001, 2), (None, 3)]
        self.assertEqual(digest.digest(cols, rows), digest.digest(cols, rows[::-1]))
        self.assertEqual(digest.digest(cols, [(decimal.Decimal("1.000"), 2), (None, 3)]),
                         digest.digest(cols, rows))
        self.assertNotEqual(digest.digest(cols, [(1.1, 2), (None, 3)]),
                            digest.digest(cols, rows))

    def test_types_are_distinguished(self):
        self.assertNotEqual(digest.encode(1), digest.encode(1.0))
        self.assertNotEqual(digest.encode("1"), digest.encode(1))
        self.assertEqual(digest.encode(dt.datetime(1970, 1, 1, 0, 0, 1)),
                         digest.encode(dt.datetime(1970, 1, 1, 0, 0, 1,
                                                   tzinfo=dt.timezone.utc)))


class MetricNamesTest(unittest.TestCase):

    def test_names_and_units_are_valid_and_unique(self):
        names = ([n for n, _, _ in workloads.END_TO_END] + [n for n, _, _ in workloads.PER_LAYER]
                 + list(workloads.WORKLOADS))
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for _, u, better in workloads.END_TO_END + workloads.PER_LAYER:
            self.assertRegex(u, UNIT)
            self.assertIn(better, ("higher", "lower"))

    def test_benchmark_json_matches_the_definitions(self):
        spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(workloads.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         workloads.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         workloads.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
