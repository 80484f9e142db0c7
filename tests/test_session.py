"""The session policy (console_log_parser_spark/session.py): one package
zip per package content, shipped to a context at most once."""
import glob
import os
import subprocess
import sys

import __spark_entry__ as em
from test_oracle_gate import SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_interpreters_share_one_package_zip(tmp_path):
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    code = ("from console_log_parser_spark.session import package_zip; "
            "print(package_zip())")
    paths = [subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                            capture_output=True, text=True, check=True,
                            timeout=120).stdout.strip()
             for _ in range(2)]
    assert paths[0] == paths[1]
    assert glob.glob(f"{tmp_path}/*") == [paths[0]]


def test_queries_ship_the_package_once(spark):
    qs = em.queries()
    names = ["events_retime_quantize", "events_hop_renumber",
             "doc_lang_id", "doc_minhash_signatures"]
    includes = spark.sparkContext._python_includes
    before = len(includes)
    for _ in range(2):
        for name in names:
            qs[name](spark, SF)
    assert len(includes) == before
