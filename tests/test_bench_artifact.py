"""Pin the bench artifact's size contract (VERDICT r5 #1).

The driver records only the LAST 2000 bytes of bench.py's stdout and
parses the JSON object it finds there. Round 5's line carried every
crawl attempt + per-query steal, grew past 2000 bytes, and the driver
recorded ``parsed: null`` — the artifact became human-readable only.
These tests feed compose_artifacts() representative full-bench inputs
(10 headline queries, a kept crawl run with phases + quiet gate, the
worst-case best-of-N attempt list) and assert the printed line stays
comfortably inside the capture window, survives a simulated tail
capture with Spark progress-bar junk sharing the line, and still
carries the adjudication fields (steal, quiet gate outcome) that
VERDICT r4 #1 required on the driver-facing artifact itself.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import HEADLINE, compose_artifacts

# driver-side stdout tail window (observed: BENCH_r0{3,4}.json carry
# exactly 2000 tail bytes; the r5 line at ~2.6 kB lost its opening brace)
TAIL_WINDOW = 2000


def _representative_inputs():
    queries = {name: 123.456 for name in HEADLINE}
    queries_steal = {name: 99999 for name in HEADLINE}
    queries_steal["_section_total"] = 9999999
    queries_steal["_gate"] = {"waited_sec": 300.0, "last_window_ticks": 1234, "quiet": False}
    attempt = {
        "rounds": 4,
        "n_seeds": 266680,
        "urls_claimed": 1592921,
        "links_deduped": 14380961,
        "links_new": 1326328,
        "wall_sec": 126.01,
        "urls_per_sec": 126763.1,
        "scheduled_per_sec": 12640.9,
        "phases": {
            "claim": 8.298, "links": 77.511, "dedup_seq": 27.841,
            "materialize": 4.212,
        },
        "steal_ticks": 43656,
        "quiet_gate": {"waited_sec": 300.0, "last_window_ticks": 1234, "quiet": False},
        "run_idx": 0,
    }
    attempts = [dict(attempt, run_idx=i) for i in range(5)]
    return queries, queries_steal, dict(attempt), attempts


def _compose():
    queries, queries_steal, crawl, attempts = _representative_inputs()
    return compose_artifacts(
        queries, queries_steal, crawl, attempts,
        cpus=32, sf_val=0.1, steal_total=9999999, bench_wall=9999.9,
        quiet_wait_s=300, detail_path="/root/repo/BENCH_DETAIL_last.json",
    )


def test_line_fits_driver_tail_window():
    result, _ = _compose()
    line = json.dumps(result)
    # headroom: the line must fit even if a shutdown message trails it
    assert len(line) <= TAIL_WINDOW - 400, (
        f"bench line is {len(line)} bytes; the driver tail capture is "
        f"{TAIL_WINDOW} — this is the BENCH_r05 parsed:null regression"
    )


def test_line_survives_simulated_tail_capture():
    result, _ = _compose()
    # Spark progress bars are \r-terminated, so they share the PHYSICAL
    # line with the JSON; reproduce the stdout shape the driver slices.
    junk = ("\r[Stage 286:=====>   (72 + 14) / 86]" * 200)
    stdout = junk + json.dumps(result) + "\n"
    tail = stdout[-TAIL_WINDOW:]
    start = tail.rfind('{"metric"')
    assert start >= 0, "JSON opening brace fell outside the tail window"
    reparsed = json.loads(tail[start:].strip())
    assert reparsed == result


def test_line_keeps_adjudication_fields():
    result, detail = _compose()
    # VERDICT r4 #1: the driver-facing artifact itself must carry the
    # interference record — aggregate steal + the kept run's gate outcome.
    assert result["steal"]["total"] == 9999999
    assert result["steal"]["queries_gate_quiet"] is False
    assert result["crawl"]["steal_ticks"] == 43656
    assert result["crawl"]["quiet"] is False
    assert result["detail_file"].endswith("BENCH_DETAIL_last.json")
    # the bulky parts live in the side file, not the line
    assert "crawl_attempts" not in result
    assert len(detail["crawl_attempts"]) == 5
    assert detail["queries_steal"]["_section_total"] == 9999999
