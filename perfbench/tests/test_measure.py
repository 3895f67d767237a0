import workloads


class Recorder(workloads.Workload):
    """A workload whose rounds only record which tracer ran them."""

    def __init__(self):
        super().__init__(ctx=None)
        self.order = []

    def round_ops(self, tracer):
        return [("op", lambda: self.order.append(tracer))]


def test_traced_runs_alternate_untraced_traced_traced_untraced():
    wl = Recorder()
    quiet, traced = wl.measure(["u", "t"], seconds=0, min_rounds=[4, 4])
    assert wl.order == ["u", "t", "t", "u", "u", "t", "t", "u"]
    assert len(quiet.times["op"]) == len(traced.times["op"]) == 4
    assert quiet.attempted == traced.attempted == 4
    assert quiet.failed == traced.failed == 0


def test_after_the_deadline_only_tracers_short_of_their_minimum_run():
    wl = Recorder()
    quiet, traced = wl.measure(["u", "t"], seconds=0, min_rounds=[1, 3])
    assert wl.order == ["u", "t", "t", "t"]


def test_measure_runs_at_least_min_rounds_then_until_the_deadline():
    wl = Recorder()
    s, = wl.measure(["u"], seconds=0, min_rounds=[3])
    assert len(s.times["op"]) == 3
    wl = Recorder()
    s, = wl.measure(["u"], seconds=0.05, min_rounds=[1])
    assert len(s.times["op"]) > 1


def test_a_raising_or_failing_operation_counts_as_failed():
    wl = Recorder()
    s = workloads.Samples()
    wl.run_op(s, "boom", lambda: 1 / 0)
    wl.run_op(s, "wrong", lambda: False)
    wl.run_op(s, "ok", lambda: True)
    assert (s.attempted, s.failed) == (3, 2)
    assert set(s.times) == {"boom", "wrong", "ok"}
