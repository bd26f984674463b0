"""Registry invariants: one name per query, and an import with no I/O.

``queries.REGISTRY`` is the only query table, so a second registration
under a taken name must fail loudly instead of silently replacing the
first builder. Importing the library must not depend on files next to
it (result artifacts, bench outputs): the subprocess test below records
every ``open`` audit event during the import.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from ds_ga1004_bigdata_project_spark import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_register_rejects_a_duplicate_name():
    before = Q.REGISTRY["q01_top_parts"]
    with pytest.raises(ValueError, match="q01_top_parts"):
        Q._register("q01_top_parts", survey="dup", oracle=None)(
            lambda spark, sf_dir: None)
    assert Q.REGISTRY["q01_top_parts"] is before


def test_import_reads_no_json_files():
    probe = textwrap.dedent("""
        import json, sys
        opened = []

        def hook(event, args):
            if event == "open" and isinstance(args[0], str):
                opened.append(args[0])

        sys.addaudithook(hook)
        import ds_ga1004_bigdata_project_spark.queries
        print(json.dumps(opened))
    """)
    out = subprocess.run([sys.executable, "-c", probe], cwd=REPO,
                         capture_output=True, text=True, check=True)
    opened = [os.path.abspath(os.path.join(REPO, p))
              for p in json.loads(out.stdout.strip().splitlines()[-1])]
    # the hook saw the import itself, so an empty list is not a false pass
    assert any(os.path.basename(p).startswith("queries.")
               for p in opened), opened
    read = [p for p in opened
            if p.startswith(REPO + os.sep) and p.endswith(".json")]
    assert read == [], f"importing queries read {read}"
