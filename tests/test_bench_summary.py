"""bench.py's last stdout line is the compact summary of the full record
(the full record stays in BENCH/partial.json). A reader that keeps only the
last 2,000 chars of stdout must still get one whole JSON line, so the
summary is capped at bench.SUMMARY_MAX_CHARS. Spark-free."""

from __future__ import annotations

import json

import bench


def _level(cores: int) -> dict:
    return {
        "cores": cores,
        "wall_sec": 127.524,
        "all_walls": [127.52, 141.14, 131.66, 135.01, 129.93],
        "docs_per_sec": 3136.7,
        "mb_per_sec": 34.7,
        "failures": 603,
    }


def _corpus_mode() -> dict:
    stage = {"wall_sec": 32.91, "rows": 19975, "mb": 60.71}
    return {
        "wall_sec": 60.708,
        "all_walls": [110.6, 60.7, 53.5],
        "spread_pct": 94.1,
        "pages_per_sec": 329.4,
        "stage_counts": {
            "extracted_ok": 19975, "quality_kept": 15242,
            "exact_unique": 15238, "near_dup_unique": 15238,
        },
        "stages": {
            name: dict(stage)
            for name in (
                "framed", "quality", "exact", "shingles", "signatures",
                "corpus",
            )
        },
    }


def _full_result() -> dict:
    queries = {name: 12.345 for name in bench.HEADLINE}
    return {
        "metric": "headline_queries_total_sec+extraction_scaling",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": "0.1",
        "extraction": {
            "rows": 400000,
            "low": _level(2),
            "high": _level(8),
            "scaling_target": 0.8,
            "scaling_efficiency": 0.794,
        },
        "corpus": {
            "docs": 20000,
            "cores": 8,
            "verified_pair": _corpus_mode(),
            "bucket_min": _corpus_mode(),
        },
    }


def _line(result: dict) -> str:
    line = json.dumps(bench.summary(result))
    assert "\n" not in line
    assert len(line) <= bench.SUMMARY_MAX_CHARS, len(line)
    return line


def test_summary_of_full_result_is_short_valid_json():
    result = _full_result()
    assert len(json.dumps(result)) > 2000  # the full record would not fit
    s = json.loads(_line(result))
    assert (s["metric"], s["value"], s["unit"]) == (
        result["metric"], result["value"], "sec"
    )
    for key in ("low", "high"):
        assert s["extraction"][key]["docs_per_sec"] == 3136.7
        assert s["extraction"][key]["all_walls"] == (
            result["extraction"][key]["all_walls"]
        )
    assert s["extraction"]["scaling_efficiency"] == 0.794
    for mode in ("verified_pair", "bucket_min"):
        assert s["corpus"][mode] == {"median_sec": 60.708, "spread_pct": 94.1}


def test_summary_of_failed_phases_stays_short():
    long_error = "java.lang.OutOfMemoryError: " + "x" * 5000
    result = _full_result()
    result["value"] = None
    result["queries"] = {"error": long_error}
    result["extraction"] = {
        "rows": 400000,
        "low": {"error": long_error, "stderr_tail": "y" * 1500},
        "high": {"error": long_error},
        "scaling_target": 0.8,
    }
    result["corpus"] = {"error": long_error, "log": "BENCH/logs/x.stderr"}
    s = json.loads(_line(result))
    assert s["value"] is None
    assert s["queries_error"].startswith("java.lang.OutOfMemoryError")
    assert s["extraction"]["scaling_efficiency"] is None
    assert "error" in s["extraction"]["low"]
    assert "error" in s["corpus"]
