import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from docprompt_spark import queries as _queries  # noqa: E402

# line_block_word_assignment and its oracle read the reference checkout's OCR
# fixture, which is not part of this repo. Where it is absent, that one
# query's cases skip and every other query is still checked.
REF_OCR_FIXTURE = _queries._FIXTURE_OCR
REF_OCR_MISSING = not os.path.exists(REF_OCR_FIXTURE)
needs_ref_ocr = pytest.mark.skipif(
    REF_OCR_MISSING, reason=f"missing {REF_OCR_FIXTURE}"
)


def query_params(names):
    """``names`` as pytest params, ``line_block_word_assignment`` marked
    ``needs_ref_ocr``."""
    return [
        pytest.param(n, marks=needs_ref_ocr)
        if n == "line_block_word_assignment"
        else n
        for n in names
    ]


@pytest.fixture(scope="session")
def spark():
    from docprompt_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="tests", shuffle_partitions=8)
    yield spark
