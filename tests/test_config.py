"""Layered config + alias resolution (reference tests/test_config.py)."""

import pytest

from sed_spark.config import (
    DEFAULT_CONFIG,
    complete_dictionary,
    parse_config,
    resolve_column_alias,
)


def test_complete_dictionary_recursive():
    user = {"a": 1, "nested": {"x": 10}}
    base = {"a": 99, "b": 2, "nested": {"x": 0, "y": 20}}
    out = complete_dictionary(user, base)
    assert out == {"a": 1, "b": 2, "nested": {"x": 10, "y": 20}}


def test_layer_priority(tmp_path):
    folder = tmp_path / "folder.yaml"
    folder.write_text("core:\n  loader: flash\ndataframe:\n  jitter_amps: 0.25\n")
    user = tmp_path / "user.yaml"
    user.write_text("core:\n  loader: generic\n  num_cores: 4\n")
    cfg = parse_config(folder_config=str(folder), user_config=str(user),
                       system_config={})
    assert cfg["core"]["loader"] == "flash"  # folder beats user
    assert cfg["core"]["num_cores"] == 4  # user fills the gap
    assert cfg["dataframe"]["jitter_amps"] == 0.25
    # defaults still present underneath
    assert cfg["dataframe"]["columns"]["tof"] == "t"


def test_provided_config_wins():
    cfg = parse_config({"core": {"loader": "sxp"}})
    assert cfg["core"]["loader"] == "sxp"


def test_missing_file_raises():
    with pytest.raises(FileNotFoundError):
        parse_config("/nonexistent/config.yaml")


def test_resolve_column_alias():
    cfg = parse_config()
    assert resolve_column_alias("@tof", cfg) == "t"
    assert resolve_column_alias("plain", cfg) == "plain"
    with pytest.raises(KeyError):
        resolve_column_alias("@nope", cfg)


def test_default_config_validates():
    cfg = parse_config()
    for key in DEFAULT_CONFIG:
        assert key in cfg


def test_processor_uses_config_loader(spark):
    from sed_spark.loader.flash import FlashLikeLoader
    from sed_spark.processor import SedProcessor

    p = SedProcessor(spark=spark, config={"core": {"loader": "flash"}})
    assert isinstance(p.loader, FlashLikeLoader)


def test_processor_jitter_aliases(spark):
    import pandas as pd

    from sed_spark.processor import SedProcessor

    p = SedProcessor(spark=spark)
    df = spark.createDataFrame(pd.DataFrame({
        "X": [1.0, 2.0], "Y": [3.0, 4.0], "t": [5.0, 6.0],
    }))
    p.load(dataframe=df)
    p.add_jitter(seed=3)  # defaults resolve @x/@y/@tof -> X/Y/t
    row = p.dataframe.collect()[0]
    assert row["X"] != 1.0 or row["Y"] != 3.0 or row["t"] != 5.0


def test_session_sweeps_orphaned_tmpfs_dirs(spark, tmp_path):
    # a pid-named local-dir whose creator is dead must be deleted at the
    # next get_spark (tmpfs garbage is RAM; a SIGKILLed JVM leaves it)
    import os

    from sed_spark.session import get_spark

    base = "/dev/shm/sed-spark-local"
    if not os.path.isdir("/dev/shm"):
        import pytest
        pytest.skip("no /dev/shm on this platform")
    os.makedirs(base, exist_ok=True)
    orphan = os.path.join(base, "999999999")  # pid_max is below this
    os.makedirs(orphan, exist_ok=True)
    get_spark()
    assert not os.path.exists(orphan)
    # the live process's own dir is present (created by some session in
    # this test process) and untouched
    mine = os.path.join(base, str(os.getpid()))
    assert os.path.isdir(mine)
    # a streaming drain checkpoints inside that same dir, so the exit
    # cleanup covers it: the drain leaves no sibling such as <pid>-ckpt
    from sed_spark.streaming import run_available_now

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    run_available_now(
        spark.readStream.schema("id long").parquet(src), "tmpfs_ckpt_sink",
        output_mode="append",
    )
    assert spark.table("tmpfs_ckpt_sink").count() == 3
    assert [d for d in os.listdir(base)
            if d.startswith(str(os.getpid())) and d != str(os.getpid())] == []
    assert os.path.isdir(mine)
