import statistics
import time

import pytest

import hostspeed


def test_sampler_gives_a_speed_and_stops_its_child():
    host = hostspeed.Sampler()
    host.start()
    proc = host._proc
    try:
        t0 = time.monotonic()
        time.sleep(0.5)
        speed = host.speed(t0, time.monotonic())
    finally:
        host.stop()
    assert proc.poll() is not None
    assert len(host.samples) >= 3
    assert 0.1 < speed < 10
    host.stop()  # a second stop is a no-op


def test_speed_of_an_empty_window_fails():
    host = hostspeed.Sampler()
    host.samples = [(1.0, 0.002), (2.0, 0.002)]
    assert host.speed(0.5, 2.5) == pytest.approx(hostspeed.REFERENCE_S / 0.002)
    with pytest.raises(statistics.StatisticsError):
        host.speed(3.0, 4.0)
