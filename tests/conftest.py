import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from versatiles_rs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="versatiles-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def force_distributed(monkeypatch):
    """Context manager: inside it every guard.collect_small probe reports
    an over-limit relation, so guarded operators take their distributed
    branch (or raise, where they have none), and notes path="distributed"
    as the real probe does.  It yields the ops whose probe it refused, in
    call order."""
    from versatiles_rs_spark import guard

    @contextlib.contextmanager
    def forced():
        refused: list[str] = []

        def over_limit(df, max_rows, op):
            refused.append(op)
            guard.note(op, path="distributed")
            return None

        with monkeypatch.context() as m:
            m.setattr(guard, "collect_small", over_limit)
            yield refused

    return forced


def _check_lookup(scan: dict, lookup) -> None:
    """Point-lookup parity: every tile the scan reader returned (`scan`:
    (z, x, y) -> bytes) equals lookup(z, x, y); absent neighbours and
    children, and coordinates outside the pyramid, are misses; 8 threads
    looking up at once, on cold caches, agree with the serial answers."""
    from concurrent.futures import ThreadPoolExecutor

    assert scan
    absent = set()
    for z, x, y in scan:
        for k in ((z, x + 1, y), (z, x, y + 1), (z, x - 1, y), (z + 1, 2 * x, 2 * y)):
            if k not in scan and 0 <= k[1] < 1 << k[0] and 0 <= k[2] < 1 << k[0]:
                absent.add(k)
    assert absent
    keys = list(scan) + sorted(absent)
    # thread safety, not coverage: an evenly spread sample of hits and misses
    sample = keys[:: max(1, len(keys) // 2000)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # force thread switches inside lookups
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(lambda k: lookup(*k), sample, timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert got == [scan.get(k) for k in sample]
    for k in keys:
        assert lookup(*k) == scan.get(k), k
    for z, x, y in scan:
        n = 1 << z
        for k in ((z, n, y), (z, x, n), (z, -1, y), (z, x, -1), (32, x, y), (-1, 0, 0)):
            assert lookup(*k) is None, k


@pytest.fixture(scope="session")
def check_lookup():
    return _check_lookup
