"""DuckDB oracle connections keep their spill files out of the
working directory."""

from __future__ import annotations

import os
import tempfile


def test_duckdb_spill_goes_to_system_temp(tmp_path):
    """An oracle connection spills under the system temp dir, not into
    ``.tmp`` in the working directory."""
    from programmers_data_spark.testing import duckdb_connection

    con = duckdb_connection(str(tmp_path))
    (spill,) = con.execute("SELECT current_setting('temp_directory')").fetchone()
    con.close()
    assert os.path.dirname(spill) == tempfile.gettempdir()
