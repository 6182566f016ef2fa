"""The benchmark's own test: the same seed gives byte-identical inputs,
and another seed gives different ones, for every workload.

    python3 e2ebench/test_inputs.py
"""
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402


def digests(classpath: str, seed: int) -> dict:
    out = subprocess.run(["java", "-cp", classpath, "graftbench.InputDigest", str(seed)],
                         check=True, capture_output=True, text=True).stdout
    return dict(line.split() for line in out.splitlines())


def main() -> int:
    classpath = build.build(Path(__file__).resolve().parent.parent)
    a, b, c = digests(classpath, 1), digests(classpath, 1), digests(classpath, 2)
    assert set(a) == {"ingest", "dedup", "serve"}, a
    for w in a:
        assert a[w] == b[w], f"{w}: seed 1 generated different inputs twice"
        assert a[w] != c[w], f"{w}: seeds 1 and 2 generated the same inputs"
    print(f"ok: {len(a)} workloads, same seed -> same bytes, other seed -> other bytes")
    return 0


if __name__ == "__main__":
    sys.exit(main())
