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


def _trial(events: int, wall: float, stream_wall: float) -> dict:
    """One worker's SCALING_RESULT dict, as scaling_worker prints it."""
    return {"events": events, "wall_sec": wall, "events_per_sec": round(events / wall, 1),
            "final_rows": 10, "final_checksum": 7,
            "stream": {"events": events, "wall_sec": stream_wall,
                       "events_per_sec": round(events / stream_wall, 1), "triggers": 4,
                       "rows_dropped_late": 3, "dup_redelivery_budget": 5,
                       "drops_within_dup_budget": True, "final_rows": 10, "final_checksum": 7}}


def test_scaling_artifact_counts_the_replayed_events():
    trials = {1: [_trial(4_080_062, 40.0, 50.0), _trial(4_080_062, 41.0, 52.0)],
              4: [_trial(4_080_062, 12.0, 20.0), _trial(4_080_062, 11.0, 21.0)]}
    out = bench.scaling_artifact(trials, 1, 4)
    assert out["events"] == 4_080_062
    assert out["trials"] == 2
    # the artifact re-derives from its own fields
    assert out["rate_local1"] == round(out["events"] / out["wall_local1"], 1)
    assert out["rate_local4"] == round(out["events"] / out["wall_local4"], 1)
    assert out["streaming"]["rate_local4"] == round(out["events"] / out["streaming"]["wall_local4"], 1)
    assert out["wall_local4"] == 11.0 and out["streaming"]["wall_local4"] == 20.0
    assert out["final_checksum_equal"] and out["streaming"]["stream_matches_batch_both_levels"]


@pytest.mark.parametrize("odd", ["batch", "stream"])
def test_scaling_artifact_refuses_trials_with_different_event_counts(odd):
    trials = {1: [_trial(4_080_062, 40.0, 50.0)], 4: [_trial(4_080_062, 12.0, 20.0)]}
    if odd == "batch":
        trials[4][0]["events"] = 4_000_000
    else:
        trials[1][0]["stream"]["events"] = 4_000_000
    with pytest.raises(RuntimeError, match="4000000, 4080062"):
        bench.scaling_artifact(trials, 1, 4)
