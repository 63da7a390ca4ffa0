"""Key -> module attribution of the benchmark's workload keys.

Builds graft and the driver (cached under .bench_build) and asks the
driver for every module's public `queries` map. Fails loudly when a
workload key is renamed, removed, or found in other than exactly one
module, and when SparkEntry registers keys from a module the driver
does not list.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402

ROOT = os.path.dirname(HERE)


class Attribution(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        area = os.path.join(ROOT, ".bench_build")
        cls.maps = run.modules_of(run.build(ROOT, area), area)
        cls.entry = set(cls.maps.pop("SparkEntry"))

    def test_every_workload_key_is_in_exactly_one_module(self):
        for workload, keys in run.WORKLOADS.items():
            for k in keys:
                owners = [m for m, ks in self.maps.items() if k in ks]
                self.assertEqual(
                    len(owners), 1,
                    f"{workload} key {k!r} is in {owners or 'no module'}; "
                    "rename or move it in perfbench/run.py WORKLOADS too")

    def test_reported_modules_cover_the_workload_keys(self):
        used = {m for keys in run.WORKLOADS.values() for k in keys
                for m, ks in self.maps.items() if k in ks}
        self.assertEqual(used, set(run.MODULES))

    def test_driver_lists_every_module_of_sparkentry(self):
        listed = set().union(*map(set, self.maps.values()))
        self.assertEqual(self.entry - listed, set(),
                         "SparkEntry keys from a module Driver.modules omits")


if __name__ == "__main__":
    unittest.main()
