"""Tests of the benchmark itself: generator determinism, process-tree
accounting, and a tiny run of each workload (untraced and traced).

    python3 -m pytest curbench -q -p no:cacheprovider --basetemp .curbench_work/pytest
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import proctree  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for parent, _, names in os.walk(d):
        for name in names:
            path = os.path.join(parent, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, d)] = f.read()
    return out


@pytest.mark.parametrize("kind,size", [("web_pages", 60), ("long_pages", 12)])
def test_generator_same_seed_same_bytes(tmp_path, kind, size):
    dirs = []
    for i, seed in enumerate((7, 7, 8)):
        d = tmp_path / f"{i}"
        d.mkdir()
        gen.GENERATORS[kind](seed, size, str(d))
        dirs.append(_files(str(d)))
    assert dirs[0] == dirs[1]
    assert dirs[0] != dirs[2]


def test_long_pages_properties_do_not_depend_on_seed(tmp_path):
    props = []
    for seed in (1, 2):
        d = tmp_path / str(seed)
        d.mkdir()
        props.append(gen.long_pages(seed, 40, str(d)))
    for key in ("rows", "bail_share", "no_output_pages"):
        assert props[0][key] == props[1][key]
    assert sorted(props[0]["kinds"].values()) == sorted(props[1]["kinds"].values())
    assert props[0]["bail_share"] > 0


def test_ensure_reuses_a_complete_set(tmp_path):
    d, props = gen.ensure("long_pages", 3, 10, str(tmp_path))
    stamp = os.path.getmtime(os.path.join(d, "pages", "part-0.parquet"))
    assert gen.ensure("long_pages", 3, 10, str(tmp_path)) == (d, props)
    assert os.path.getmtime(os.path.join(d, "pages", "part-0.parquet")) == stamp


def _burn(seconds: float) -> None:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def _burn_then_wait(seconds: float, ready, release) -> None:
    _burn(seconds)
    ready.set()
    release.wait(30)


def test_cpu_counts_live_and_reaped_children():
    ctx = multiprocessing.get_context("spawn")
    pid = os.getpid()
    before = proctree.cpu_seconds(pid)
    reaped = ctx.Process(target=_burn, args=(0.6,))
    reaped.start()
    reaped.join(30)
    assert not reaped.is_alive()
    after_reaped = proctree.cpu_seconds(pid)
    assert after_reaped - before >= 0.5  # moved into our cutime when joined

    ready, release = ctx.Event(), ctx.Event()
    live = ctx.Process(target=_burn_then_wait, args=(0.6, ready, release))
    live.start()
    try:
        assert ready.wait(30)
        assert live.pid in proctree.tree_pids(pid)
        assert proctree.cpu_seconds(pid) - after_reaped >= 0.5  # its utime, while alive
    finally:
        release.set()
        live.join(30)
    assert not live.is_alive()


def _hold_memory(mb: int, ready, release) -> None:
    block = bytearray(mb * 1024 * 1024)
    block[:: 4096] = b"x" * len(block[:: 4096])  # touch every page
    ready.set()
    release.wait(30)


def test_mem_sampler_sees_a_child_allocation_but_not_itself():
    ctx = multiprocessing.get_context("spawn")
    ready, release = ctx.Event(), ctx.Event()
    child = ctx.Process(target=_hold_memory, args=(200, ready, release))
    base = proctree.resident_bytes(os.getpid())
    with proctree.MemSampler(os.getpid(), interval=0.02) as mem:
        # the sampler is a child of ours, but not part of the measured tree
        assert mem._proc.pid not in proctree.tree_pids(os.getpid())
        child.start()
        try:
            assert ready.wait(30)
            assert child.pid in proctree.tree_pids(os.getpid())
            time.sleep(0.2)
        finally:
            release.set()
            child.join(30)
    assert not child.is_alive()
    assert mem.peak - base >= 200e6


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "curbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("workload,size", [("curate_commit", 50), ("curate_longpage", 12)])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run(workload, size, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace, "--size", str(size))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer" if trace == "1" else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
        return
    layer = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "curate_commit":
        assert layer["html_parser.bail_frac"] == 0
        assert layer["model.chunks"] > 0 and layer["writer.files"] > 0
    else:
        assert layer["html_parser.bail_frac"] > 0
        assert layer["model.chunks"] > size and layer["writer.files"] == 0


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit non-zero,
    print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "curbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = _run(str(tmp_path), "--workload", "curate_commit", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
