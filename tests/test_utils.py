"""retry_call and ProcessedLedger — the reference's operational contract."""

from __future__ import annotations

import pytest

from sap_data_pipeline_spark.sources.ledger import ProcessedLedger
from sap_data_pipeline_spark.utils import retry_call, temp_view_name


def test_retry_call_succeeds_after_failures():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    assert retry_call(flaky, attempts=3, delay_s=0.0) == "ok"
    assert calls["n"] == 3


def test_retry_call_strict_raises_after_exhaustion():
    def always():
        raise OSError("down")

    with pytest.raises(OSError):
        retry_call(always, attempts=2, delay_s=0.0)
    assert retry_call(always, attempts=2, delay_s=0.0, strict=False) is None


def test_processed_ledger_roundtrip(tmp_path):
    led = ProcessedLedger(str(tmp_path / "flow_done.txt"))
    files = ["a.txt", "b.txt", "c.txt"]
    assert led.filter_new(files) == files
    led.record("a.txt")
    assert led.is_done("a.txt") and not led.is_done("b.txt")
    assert led.filter_new(files) == ["b.txt", "c.txt"]
    led.record_all(["b.txt", "c.txt"])
    assert led.filter_new(files) == []  # idempotent re-run: nothing to do


def test_temp_view_name_unique_across_threads():
    """Names minted concurrently never collide: a duplicate would let
    two operator invocations overwrite each other's per-round views.
    More threads than cores and a tiny switch interval make a lost
    counter update likely if minting is not atomic."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    def mint(_):
        return [temp_view_name("t") for _ in range(20000)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            batches = list(pool.map(mint, range(8), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    names = [n for batch in batches for n in batch]
    assert len(set(names)) == len(names) == 8 * 20000
