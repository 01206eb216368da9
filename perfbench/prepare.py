"""Build the cached namespace input: ``fixture.generate_pandas`` written
in the ``layout.write_inode_table`` scale layout.

    python3 perfbench/prepare.py OUT_DIR LEVELS DIRS_PER_LEVEL FILES_PER_DIR SEED

Writes ``OUT_DIR/table``. run.py calls it once per shape and renames the
finished directory into the cache.
"""

from __future__ import annotations

import os
import sys


def main(argv: list[str]) -> int:
    out, levels, dirs, files, seed = argv[0], *map(int, argv[1:5])
    from nnanalytics_spark.inode import fixture
    from nnanalytics_spark.session import get_spark
    from nnanalytics_spark.sources import layout

    spark = get_spark("nna-bench-prepare")
    pdf = fixture.generate_pandas(
        levels=levels, dirs_per_level=dirs, files_per_dir=files, seed=seed
    )
    table = os.path.join(out, "table")
    layout.write_inode_table(spark.createDataFrame(pdf, schema=fixture.SCHEMA), table)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
