"""The DDL generator: deterministic, SSMS-shaped, and read back by the
program's own parser with exactly the counts it generated.

    python3 -m unittest discover -s perfbench/tests     # from the repo root
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import ddlgen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))
SEEDS = (1, 2, 3, 17)


class DdlGenTest(unittest.TestCase):

    def test_seed_changes_names_not_shape(self):
        def shape(m):
            return [(len(t["cols"]), t["pk"][1:], sorted(c[1:] for c in t["cols"])) for t in m["tables"]]
        a, b = ddlgen.generate(1), ddlgen.generate(2)
        self.assertEqual(shape(a), shape(b))
        self.assertNotEqual([t["name"] for t in a["tables"]], [t["name"] for t in b["tables"]])

    def test_same_seed_same_bytes(self):
        for seed in SEEDS:
            a = ddlgen.render(ddlgen.generate(seed))
            self.assertEqual(a, ddlgen.render(ddlgen.generate(seed)))
        self.assertNotEqual(ddlgen.render(ddlgen.generate(1)), ddlgen.render(ddlgen.generate(2)))

    def test_reference_profile(self):
        for seed in SEEDS:
            m = ddlgen.generate(seed)
            self.assertEqual(ddlgen.counts(m), {"tables": 45, "columns": 708, "fks": 66})
            self.assertEqual(sum(t["skip"] for t in m["tables"]), 8)
            self.assertEqual(sum(f["cascade"] for f in m["fks"]), 10)
            self.assertGreaterEqual(sum(f["table"] == f["ref"] for f in m["fks"]), 1)
            self.assertEqual(sum(len(t["pk"]) == 4 for t in m["tables"]), 4)   # identity PKs
            self.assertEqual(len(m["waves"]), 8)
            self.assertEqual(max(1 + len(t["cols"]) for t in m["tables"]), 76)
            kinds = {t["pk"][1] for t in m["tables"] if not t["skip"]}
            self.assertEqual(kinds, {"uniqueidentifier", "int", "nvarchar"})
            for t in m["tables"]:
                for name, typ, *_ in t["cols"]:
                    if typ == "uniqueidentifier":
                        fk_cols = {f["column"] for f in m["fks"] if f["table"] == t["name"]}
                        self.assertTrue(name in fk_cols or name in ("TenantId", "CreatedBy", "UpdatedBy"),
                                        f"{t['name']}.{name}")

    def test_ssms_shape(self):
        text = ddlgen.render(ddlgen.generate(5))
        for needle in ("\r\nGO\r\n", "IDENTITY(1,1)", "[nvarchar](max)", "[timestamp]",
                       "[varbinary](max)", "ON DELETE CASCADE", "CREATE NONCLUSTERED INDEX",
                       "FILENAME = N'", "WITH CHECK ADD  CONSTRAINT"):
            self.assertIn(needle, text)
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "x.sql")
            ddlgen.write(p, ddlgen.generate(5))
            with open(p, "rb") as fh:
                raw = fh.read()
        self.assertIn(raw[:2], (b"\xff\xfe", b"\xfe\xff"))
        self.assertEqual(raw.decode("utf-16"), text)

    def test_slice_is_fk_closed_and_takes_the_widest(self):
        for seed in SEEDS:
            m = ddlgen.generate(seed)
            s = ddlgen.slice_model(m)
            names = {t["name"] for t in s["tables"]}
            self.assertEqual(len(names), 10)
            for f in m["fks"]:
                if f["table"] in names and f["table"] != f["ref"]:
                    self.assertIn(f["ref"], names, "slice must hold every FK parent")
            self.assertGreater(max(len(t["cols"]) for t in s["tables"]), 30)

    def test_round_trip_through_the_program_parser(self):
        classes, _ = build.build(ROOT)
        cp = f"{classes}:{os.path.join(build.spark_jars(ROOT), '*')}"
        with tempfile.TemporaryDirectory() as d:
            for seed in SEEDS:
                for model in (ddlgen.generate(seed), ddlgen.slice_model(ddlgen.generate(seed))):
                    p = os.path.join(d, f"s{seed}.sql")
                    ddlgen.write(p, model)
                    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Main", "parse", p],
                                         check=True, capture_output=True, text=True, cwd=d).stdout
                    self.assertEqual(json.loads(out.strip().splitlines()[-1]), ddlgen.counts(model))


if __name__ == "__main__":
    unittest.main()
