"""The block-kernel harness of the fused operators (operators/blocks.py).

The pixel-key codec lives in one module, and the Arrow column reader and
writer keep SQL NULL and NaN apart.
"""

import ast
import re
from pathlib import Path

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from xcube_resampling_spark.operators import blocks

OPERATORS = Path(blocks.__file__).parent
# the literals of the j * 2^31 + i pixel-key packing and its decoding
KEY_LITERALS = re.compile(r"1\s*<<\s*31|>>\s*31|0x7fffffff", re.IGNORECASE)


def _allowed_lines(path: Path) -> set[int]:
    """utils.check_pixel_key_bound states the bound on the driver."""
    if path.name != "utils.py":
        return set()
    fn = next(
        n for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "check_pixel_key_bound"
    )
    return set(range(fn.lineno, fn.end_lineno + 1))


def test_key_codec_lives_in_blocks():
    found = {}
    for path in sorted(OPERATORS.glob("*.py")):
        allowed = _allowed_lines(path)
        lines = [
            k for k, line in enumerate(path.read_text().splitlines(), 1)
            if KEY_LITERALS.search(line) and k not in allowed
        ]
        if lines:
            found[path.name] = lines
    assert set(found) == {"blocks.py"}, found


def test_key_codec_roundtrip(spark):
    rows = [(0, 0), (3, 7), (2**31 - 1, 2**31 - 1)]
    df = spark.createDataFrame(rows, "j int, i int")
    sp = np.array([r.sp for r in df.select(blocks.pack_ij().alias("sp"))
                   .collect()], dtype=np.int64)
    j, i = blocks.unpack_ij(sp)
    assert list(zip(j.tolist(), i.tolist())) == rows


def test_read_and_emit_keep_null_and_nan_apart():
    table = pa.table({"v": pa.array([1.0, None, float("nan")])})
    values, present = blocks.read(table, "v")
    assert present.tolist() == [True, False, True]
    assert values[0] == 1.0 and np.isnan(values[1:]).all()

    schema = T.StructType([
        T.StructField("j", T.IntegerType(), False),
        T.StructField("v", T.DoubleType()),
    ])
    out = blocks.emit(schema, {
        "j": np.arange(3, dtype=np.int64),
        "v": (np.array([np.nan, 2.0, np.nan]), np.array([True, True, False])),
    })
    assert out.schema.types == [pa.int32(), pa.float64()]
    assert out.column("v").null_count == 1
    assert np.isnan(out.column("v")[0].as_py())
