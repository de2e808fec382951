"""Defaults must be safe on the host that runs them."""

import os

from sparkdedup import pipeline


def _bytes(mem: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(mem[:-1]) * units[mem[-1].lower()]


def test_default_driver_heap_fits_physical_ram(monkeypatch):
    conf = {}

    class Builder:
        def appName(self, _):
            return self

        def master(self, _):
            return self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return None

    monkeypatch.setattr(pipeline.SparkSession, "builder", Builder())
    pipeline.build_spark()
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < _bytes(conf["spark.driver.memory"]) <= ram
