"""Results from different hosts are not compared.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402

HOST = {"cpus": 4, "spark_cores": 4, "heap_gb": 4.0, "mem_gb": 15, "jdk": "17", "spark": "4.1.2"}


def result(host, value):
    return {"host": host, "result": {"metrics": {"pass_s": {"value": value, "unit": "s"}}}}


class HostTag(unittest.TestCase):
    def test_same_host_gives_ratios(self):
        self.assertEqual(compare.compare(result(HOST, 2.0), result(HOST, 3.0)), {"pass_s": 1.5})

    def test_other_host_is_refused(self):
        other = dict(HOST, cpus=32)
        self.assertIsNone(compare.compare(result(HOST, 2.0), result(other, 3.0)))


if __name__ == "__main__":
    unittest.main()
