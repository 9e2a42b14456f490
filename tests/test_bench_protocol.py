"""bench.py's command line and scaling levels: pure parts, no Spark session."""

import pytest

import bench


@pytest.mark.parametrize("cores, levels", [(4, (1, 4)), (5, (1, 4)), (16, (4, 16)), (32, (8, 32))])
def test_scaling_levels_from_host_cores(cores, levels):
    assert bench.scaling_levels(cores) == levels


def test_scaling_refuses_fewer_than_four_cores():
    with pytest.raises(SystemExit, match="this host has 3"):
        bench.scaling_levels(3)


@pytest.mark.parametrize("argv", [
    ["--conf", "spark.executor.cores=2"],
    ["--scaling", "--conf", "k=v"],
    ["--scaling-worker", "4"],
    ["--scaling-worker", "4", "many"],
    ["--plans"],
])
def test_main_refuses_unknown_arguments(argv, capsys):
    with pytest.raises(SystemExit) as exc:
        bench.main(argv)
    assert exc.value.code == 2
    assert "usage: bench.py" in capsys.readouterr().err
