"""Export-layer driver work: the Dataset-XML fragment and the define.xml
column statistics are SQL text, so their py4j round trips do not grow
with the number of columns."""

import contextlib

from trial_submission_studio_spark.io.dataset_xml import row_fragment
from trial_submission_studio_spark.io.define_xml import observed_metadata
from trial_submission_studio_spark.operators.profiling import max_observed_length
from trial_submission_studio_spark.sources.local import values_df

#: py4j's "release this object" command prefix; py4j sends it whenever
#: Python happens to collect a proxy, so it is not counted
MEMORY_DEL = "m\nd\n"


@contextlib.contextmanager
def py4j_calls(spark):
    """Count gateway ``send_command`` calls made inside the block."""
    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    calls = [0]

    def send_command(command, *args, **kwargs):
        if not command.startswith(MEMORY_DEL):
            calls[0] += 1
        return original(command, *args, **kwargs)

    client.send_command = send_command
    try:
        yield calls
    finally:
        del client.send_command


def _frame(spark, n_cols):
    names = [f"C{i:02d}" for i in range(n_cols)]
    rows = [tuple(f"v{r}{i}" if (r + i) % 3 else "  " for i in range(n_cols)) for r in range(3)]
    ddl = ", ".join(f"{c} string" for c in names)
    return values_df(spark, rows, ddl), names


def test_row_fragment_py4j_calls_do_not_grow_with_columns(spark):
    def calls_for(n_cols):
        names = [f"C{i:02d}" for i in range(n_cols)]
        with py4j_calls(spark) as calls:
            row_fragment(names, "IG.XX", "IT.XX", "__seq")
        return calls[0]

    calls_for(2)  # warm the JVM class lookups
    assert calls_for(40) <= calls_for(4)


def test_column_stats_py4j_calls_per_column(spark):
    df, names = _frame(spark, 40)
    df4, names4 = _frame(spark, 4)
    observed_metadata(df4, names4)  # warm-up
    with py4j_calls(spark) as calls:
        observed = observed_metadata(df, names)
    assert calls[0] <= 10 * len(names)
    with py4j_calls(spark) as calls:
        lengths = max_observed_length(df, names)
    assert calls[0] <= 10 * len(names)
    # C00 holds "  ", "v10", "v20"; every column has two non-blank cells
    assert observed["C00"] == (3, True) and lengths["C00"] == 3
    assert all(has for _, has in observed.values())


def test_observed_metadata_has_data_is_exact(spark):
    """``has_data`` = some value is neither NULL nor all spaces; a tab
    or a leading space is data, an all-space value is not."""
    df = values_df(
        spark,
        [("  ", None, "\t", " a", None), (" ", None, None, "b  ", None)],
        "SPACES string, NULLS string, TAB string, PAD string, NUM double",
    )
    assert observed_metadata(df, df.columns) == {
        "SPACES": (1, False),
        "NULLS": (1, False),
        "TAB": (1, True),
        "PAD": (2, True),
        "NUM": (1, False),
    }
