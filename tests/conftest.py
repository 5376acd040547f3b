import pytest


@pytest.fixture(scope="session")
def spark():
    from ragstudio_spark.session import get_spark

    s = get_spark("ragstudio-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def mixed_turns():
    """html, plain, "", NULL, markdown, OCR garbage and non-ASCII turns with
    concrete event times (one NULL) — a tz mis-cast would shift them.
    Rows are (conv_id, turn_idx, text, ts)."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 3, 1, 12, 30, 15)

    def ts(i):
        return t0 + timedelta(seconds=i)

    return [
        ("c1", 0, "<html><body><nav>m</nav><p>"
         + "Real paragraph content here. " * 40 + "</p></body></html>",
         ts(0)),
        ("c1", 1, "plain text turn with several sentences. " * 30, ts(1)),
        ("c2", 0, "", ts(2)),
        ("c2", 1, None, None),
        ("c2", 2, "# Markdown\n\nSome **bold** content. " * 20, ts(3)),
        ("c3", 0, "l i k e   t h i s  \x00 garbage " * 10, ts(4)),
        ("c4", 0, "héllo wörld — des données accentuées. " * 25, ts(5)),
    ]
