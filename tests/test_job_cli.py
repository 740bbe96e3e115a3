"""Job CLI argument checks (scripts/run_pipeline_job.py): a conflicting
flag set is refused by argparse (exit 2, the conflict named) before any
Spark session starts."""

import pyspark.sql
import pytest

from scripts import run_pipeline_job


class _NoSession:
    """Stands in for SparkSession: reaching for a builder fails the test."""

    @property
    def builder(self):
        raise AssertionError("a Spark session started before the "
                             "argument checks")


@pytest.mark.parametrize("argv, conflict", [
    (["--streaming"], "--streaming requires --checkpoint"),
    (["--streaming", "--checkpoint", "ck", "--format", "iceberg"],
     "--format iceberg is batch only"),
    (["--dedup-horizon", "1 hour"], "--dedup-horizon requires --streaming"),
], ids=["streaming-no-checkpoint", "streaming-iceberg", "horizon-batch"])
def test_conflicting_flags_exit_before_spark(argv, conflict, monkeypatch,
                                             capsys):
    monkeypatch.setattr(pyspark.sql, "SparkSession", _NoSession())
    monkeypatch.setattr("sys.argv", ["run_pipeline_job.py", "--input", "in",
                                     "--output", "out", *argv])
    with pytest.raises(SystemExit) as exit_info:
        run_pipeline_job.main()
    assert exit_info.value.code == 2
    assert conflict in capsys.readouterr().err
