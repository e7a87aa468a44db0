"""bench.py contract guards — the stdout-line overflow silently cost
the official bench record twice (the driver's tail capture is
2,000 chars, measured); pin the invariants statically so suite
growth can never break the signal chain again."""

import ast
import json
import os
import re

_BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)


def _bench_source():
    with open(_BENCH) as f:
        return f.read()


def _names():
    tree = ast.parse(_bench_source())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name) and t.id == "names":
                    return [ast.literal_eval(e) for e in node.value.elts]
    raise AssertionError("names list not found in bench.py")


def test_every_bench_name_is_declared_and_unique():
    from tidb_cdc_spark.queries import QUERIES

    names = _names()
    assert len(names) == len(set(names)), "duplicate bench entries"
    missing = [n for n in names if n not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"


def test_stdout_line_fits_driver_window_worst_case():
    """Reconstruct the stdout JSON line with worst-case values (the 5
    LONGEST query names, 4-digit-second timings, a 6-char sf) and
    assert it stays far inside the measured 2,000-char capture window
    — independent of how large the suite grows."""
    names = _names()
    slowest = dict(
        (n, 9999.999) for n in sorted(names, key=len, reverse=True)[:5]
    )
    line = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": 999999.999,
            "unit": "sec",
            "sf": "sf9.99",
            "n_queries": len(names),
            "queries": slowest,
            "detail": "BENCH_DETAIL.json",
            # worst case includes the degraded-record flags
            "degraded": True,
            "load_start_1m": 99.99,
            "retry_frac": 0.999,
        }
    )
    assert len(line) < 1500, f"worst-case bench line {len(line)}B"


def test_full_per_query_dict_goes_to_detail_file_not_stdout():
    src = _bench_source()
    # the size guard must be a graceful shrink, not a bare assert
    # (stripped under -O; fired only after the suite ran)
    assert "for n_slow in (5, 3, 1, 0):" in src
    assert re.search(r"if len\(line\) < 1500", src)
    assert "assert len(line)" not in src
    # ...and the full dict must be written to the committed file
    assert "BENCH_DETAIL.json" in src
    assert '"raw_runs"' in src


def test_load_guard_is_wired():
    """An official record was once captured on a loaded box with no
    in-band signal. Both degraded-detection signals must stay wired:
    ambient start load and the retry-fraction of disagreeing runs."""
    src = _bench_source()
    assert "os.getloadavg()" in src
    assert "retry_frac" in src
    # the quoted key must be written into the payload, not merely
    # mentioned in comments
    assert 'payload["degraded"] = True' in src


def test_requiet_is_wired():
    """--requiet waits (bounded) before the first
    query, records both load samples, and leaves the degraded
    verdict's formula untouched."""
    src = _bench_source()
    assert "--requiet" in src
    assert "load_prewait_1m" in src and "load_prewait_5m" in src
    assert "SPARK_GRAFT_REQUIET_MAX_SEC" in src  # bounded wait
    # degraded formula: keys on the measurement-start 1-min sample at
    # the original threshold, per core of the run (SPARK_GRAFT_CPUS,
    # host count only as the fallback)
    assert "degraded = load_start > 0.5 * ncpu or retry_frac > 0.15" in src
    assert (
        'ncpu = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)'
        in src
    )
