"""``tools/sql_digest.py``, the same-SQL check for builder refactors: every
builder and every registered oracle renders without raising, each query
has its oracle digest, and a checkout compared with itself shows no
difference."""

import pathlib
import sys

import __spark_entry__ as entrymod

ROOT = pathlib.Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))
from tools import sql_digest  # noqa: E402


def test_every_builder_and_oracle_renders():
    digests = sql_digest.render(str(ROOT))
    failed = sorted(n for n, h in digests.items() if h.startswith("error:"))
    assert not failed, failed
    # both dialects of a dialect builder, and the oracle of every query
    assert {"textops.dedup_exact_sql[duck]",
            "textops.dedup_exact_sql[spark]"} <= digests.keys()
    missing = [q for q in entrymod.queries() if "oracle:" + q not in digests]
    assert not missing, missing


def test_diff_of_a_checkout_with_itself_is_clean(capsys):
    assert sql_digest.main(["--diff", str(ROOT), str(ROOT)]) == 0
    out = capsys.readouterr()
    assert out.out == ""
    assert ", 0 differ" in out.err
