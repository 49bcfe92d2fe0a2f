"""get_spark's environment overrides."""
import pytest

from pybel_spark.session import _broadcast_threshold, get_spark


def test_broadcast_threshold_env_is_validated(monkeypatch):
    """SPARK_GRAFT_BROADCAST_THRESHOLD takes a byte count or a Spark size
    string; anything else fails before the session is built, naming the
    variable."""
    for value in ('1048576', '32m', '64MB', '-1', ' 1g '):
        monkeypatch.setenv('SPARK_GRAFT_BROADCAST_THRESHOLD', value)
        assert _broadcast_threshold() == value.strip()
    for value in ('', 'lots', '32 mb', '1.5g', '32x'):
        monkeypatch.setenv('SPARK_GRAFT_BROADCAST_THRESHOLD', value)
        with pytest.raises(ValueError,
                           match='SPARK_GRAFT_BROADCAST_THRESHOLD'):
            get_spark()
