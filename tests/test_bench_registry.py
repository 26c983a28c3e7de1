"""The frozen bench resolves every headline query by name; no Spark needed."""

from __future__ import annotations


def test_bench_headline_names_resolve():
    import __spark_entry__ as entrymod
    import bench

    missing = [n for n in bench.HEADLINE if not callable(getattr(entrymod, f"_q_{n}", None))]
    assert not missing, missing
