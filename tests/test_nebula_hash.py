"""Bit-exactness of the NebulaGraph HASH() reimplementation.

The reference renders ``HASH("v")`` into nGQL and the server evaluates it
with GCC std::hash (pkg/picker/converter_function.go:21-33). Goldens here
were generated by compiling ``std::hash<std::string>`` with the container's
g++ (see test_live_gxx_oracle, which regenerates them when g++ exists)."""

from __future__ import annotations

import random
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from nebula_importer_spark.functions.nebula_hash import (
    hash_bytes_py,
    nebula_hash,
    nebula_hash_series,
)

# (input, g++ -O2 std::hash<std::string> output on x86-64 libstdc++ 12)
GOLDEN = [
    ("", 6142509188972423790),
    ("a", 4993892634952068459),
    ("ab", 5498234120169091963),
    ("abc", 3663726644998027833),
    ("abcd", -2416373452805698776),
    ("abcde", 811036730794841393),
    ("abcdef", 2505003294258116183),
    ("abcdefg", -2382852594718506321),
    ("abcdefgh", 8664279048047335611),
    ("abcdefghi", -5409788147785758033),
    ("0", 2297668033614959926),
    ("1", -8286773200217731421),
    ("933", 599314006943454864),
    ("10995116278700", 3115041758101068717),
    ("Mahinda", 2004210728337488369),
    ("p_1", -1805025370965094475),
    ("c_0", 1113141203531486068),
    ("hello world", 5577293430985752569),
    ("你好", 7756366068743095233),
    ("The quick brown fox jumps over the lazy dog", -2536667522115781515),
    ("0123456789abcdef0123456789abcdef", 4551047608856227223),
]


def test_scalar_matches_gxx_goldens():
    for s, want in GOLDEN:
        assert hash_bytes_py(s.encode("utf-8")) == want, s


def test_vectorized_matches_goldens_and_scalar():
    import pandas as pd

    vals = pd.Series([s for s, _ in GOLDEN])
    got = nebula_hash_series(vals)
    for i, (_, want) in enumerate(GOLDEN):
        assert got.iat[i] == want


def test_vectorized_random_parity_with_scalar():
    """Random strings across all tail lengths, chunk counts, and charsets
    (incl. bytes ≥ 0x80 via unicode) — vectorized kernel == scalar model."""
    import pandas as pd

    rng = random.Random(7)
    alphabet = "abz019 _-€你"  # multi-byte UTF-8 included
    vals = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
            for _ in range(500)]
    got = nebula_hash_series(pd.Series(vals))
    for i, s in enumerate(vals):
        assert got.iat[i] == hash_bytes_py(s.encode("utf-8")), repr(s)


def test_vectorized_padding_fallback_and_nulls():
    """One huge outlier string in a batch of short ids trips the padding
    guard (scalar fallback) — results must be identical; nulls propagate."""
    import pandas as pd

    vals = pd.Series(["a", None, "bb", "x" * 200_000, ""])
    got = nebula_hash_series(vals)
    assert got.iat[0] == hash_bytes_py(b"a")
    assert pd.isna(got.iat[1])
    assert got.iat[2] == hash_bytes_py(b"bb")
    assert got.iat[3] == hash_bytes_py(b"x" * 200_000)
    assert got.iat[4] == hash_bytes_py(b"")


@pytest.mark.skipif(shutil.which("g++") is None, reason="no g++ available")
def test_live_gxx_oracle():
    """Regenerate goldens from an actual g++ std::hash binary — the true
    oracle for the server-side HASH() the reference invokes."""
    cases = [s for s, _ in GOLDEN] + ["edge\ncase", "\x00nul", "ÿ" * 9]
    with tempfile.TemporaryDirectory() as td:
        src = Path(td) / "h.cpp"
        lines = "\n".join(
            f'    cases.push_back(std::string("'
            + "".join(f"\\x{b:02x}" for b in s.encode("utf-8"))
            + f'", {len(s.encode("utf-8"))}));'
            for s in cases
        )
        src.write_text(
            "#include <cstdio>\n#include <functional>\n#include <string>\n"
            "#include <vector>\nint main(){\n  std::vector<std::string> cases;\n"
            + lines
            + "\n  std::hash<std::string> h;\n"
            "  for (auto& s : cases) printf(\"%lld\\n\", (long long)(size_t)h(s));\n"
            "  return 0;\n}\n"
        )
        exe = Path(td) / "h"
        subprocess.run(["g++", "-O2", "-o", str(exe), str(src)], check=True)
        out = subprocess.run([str(exe)], capture_output=True, text=True, check=True)
        got = [int(x) for x in out.stdout.split()]
    for s, want in zip(cases, got):
        assert hash_bytes_py(s.encode("utf-8")) == want, repr(s)


def test_hash_id_bit_exact_through_pipeline(spark):
    """compile_id(function=HASH) must emit server-parity vids."""
    from nebula_importer_spark.config.model import NodeIDSpec
    from nebula_importer_spark.functions.picker import compile_id

    df = spark.createDataFrame(
        [("933",), ("Mahinda",), ("10995116278700",)], "_c0 string"
    )
    spec = NodeIDSpec(type="INT", index=0, function="HASH")
    got = {r["vid"] for r in df.select(compile_id(spec, df.columns, "vid")).collect()}
    assert got == {
        599314006943454864,
        2004210728337488369,
        3115041758101068717,
    }


def test_nebula_hash_column_nulls(spark):
    import pandas as pd  # noqa: F401  (asserts pandas path imports)

    df = spark.createDataFrame([("a",), (None,)], "s string")
    rows = df.select(nebula_hash("s").alias("h")).collect()
    assert rows[0]["h"] == hash_bytes_py(b"a")
    assert rows[1]["h"] is None
