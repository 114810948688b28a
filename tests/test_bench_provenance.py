"""bench.py provenance: which `git status --porcelain` paths count as
measurement artifacts (and so leave the tree clean)."""

import pytest

from bench import _is_artifact


@pytest.mark.parametrize("path", [
    "BENCH_r13.json", "BENCH_LOCAL_r14.json", "CORRECTNESS_r02.json",
    "PERF_r12.json", "VERIFY_r12.json", "ABTEST_r11_r10code.json",
    "VERDICT.md", "ADVICE.md", "bench_out.json",
    '"VERDICT.md"',                          # quoted by porcelain
    "BENCH_r01.json -> BENCH_r02.json",      # artifact renamed
])
def test_root_artifacts_are_not_dirty(path):
    assert _is_artifact(path)


@pytest.mark.parametrize("path", [
    "bench.py", "README.md", "fast_causal_inference_spark/ols.py",
    # nested files named like artifacts are source
    "tools/VERDICT.md", "perfbench/BENCH_r01.json",
    "docs/ADVICE.md", "BENCH_LOCAL_r1/notes.py", "ABTEST_x/fit.json",
    '"docs/my VERDICT.md"',
    # a rename judges both sides
    "bench.py -> BENCH_r03.json", "BENCH_r03.json -> src/BENCH_r03.json",
    '"sub dir/a.py" -> "VERDICT.md"',
])
def test_source_paths_are_dirty(path):
    assert not _is_artifact(path)


def test_line_counts_read_tracked_files(tmp_path):
    import pathlib

    import bench

    root = pathlib.Path(bench.__file__).parent
    counts = bench._line_counts(str(root))
    assert set(counts) == {"library", "entry", "tests"}
    assert counts["entry"] == \
        (root / "__spark_entry__.py").read_bytes().count(b"\n")
    assert counts["library"] > 0 and counts["tests"] > 0
    assert bench._line_counts(str(tmp_path)) == {}    # not a checkout
