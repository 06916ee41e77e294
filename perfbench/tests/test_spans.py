from spans import Span, Tracer, frame_label, self_times, stage_windows


def test_self_time_subtracts_children_once():
    spans = [
        Span("a", "run", None, None, 0.0, 10.0),
        Span("b", "write", None, "a", 1.0, 4.0),
        Span("c", "checksum", None, "b", 2.0, 3.0),
        Span("d", "read", None, "a", 3.5, 6.0),   # overlaps b: union is 1..6
        Span("e", "read", None, "a", 9.0, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st["a"] == 10.0 - (5.0 + 1.0)
    assert st["b"] == 3.0 - 1.0
    assert st["c"] == 1.0
    assert st["e"] == 3.0


def test_tracer_nests_and_restores_patched_functions():
    class Mod:
        @staticmethod
        def outer(x):
            return Mod.inner(x) + 1

        @staticmethod
        def inner(x):
            return x * 2

    clock = iter(range(100))
    tr = Tracer(clock=lambda: float(next(clock)))
    orig_outer, orig_inner = Mod.outer, Mod.inner
    tr.wrap(Mod, "outer", "outer", label=lambda a, k: str(a[0]))
    tr.wrap(Mod, "inner", "inner")
    assert Mod.outer(3) == 7
    outer, inner = tr.spans
    assert (outer.name, outer.label, outer.parent) == ("outer", "3", None)
    assert inner.parent == outer.id
    assert outer.start < inner.start < inner.end < outer.end
    tr.close()
    assert Mod.outer is orig_outer and Mod.inner is orig_inner


def test_stage_windows_start_after_input_checksums():
    run = Span("r", "kb_build.run", "build", None, 0.0, 20.0)
    spans = [
        run,
        Span("c1", "catalog.content_checksum", None, "r", 0.5, 1.0),
        Span("k0", "dataframe.local_checkpoint", "frame-7", "r", 2.0, 3.0),   # a freed temp
        Span("k1", "dataframe.local_checkpoint", "frame-7", "r", 4.0, 5.0),
        Span("k2", "dataframe.local_checkpoint", "frame-9", "r", 6.0, 8.0),
        Span("i1", "dataframe.local_checkpoint", "frame-3", "k2", 6.5, 7.0),  # nested
    ]
    frames = {"second": "frame-9", "first": "frame-7"}
    assert stage_windows(spans, run, frames) == [("first", 1.0, 5.0), ("second", 5.0, 8.0)]


def test_result_label_names_the_returned_value():
    class Mod:
        @staticmethod
        def make():
            return object()

    tr = Tracer(clock=lambda: 0.0)
    tr.wrap(Mod, "make", "make", result_label=frame_label)
    obj = Mod.make()
    assert tr.spans[0].label == frame_label(obj)
    tr.close()
