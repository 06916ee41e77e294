from answers import answer_errors, pinned, same_rows

ROWS = [("s1", "p", "o1"), ("s2", "p", "o2"), ("s2", "p", "o2"), ("s3", "q", 7)]


def test_equal_multisets_in_any_order_pass():
    assert same_rows(list(reversed(ROWS)), ROWS)
    assert same_rows([("s3", "q", "7")] + ROWS[:3], ROWS)  # values compare as strings


def test_one_row_perturbation_is_flagged():
    changed = ROWS[:3] + [("s3", "q", 8)]
    assert not same_rows(changed, ROWS)
    assert not same_rows(ROWS[:3], ROWS)           # a row dropped
    assert not same_rows(ROWS + [ROWS[0]], ROWS)   # a row duplicated
    assert not same_rows(ROWS[1:] + [ROWS[1]], ROWS)  # a duplicate moved


def test_answer_checks():
    pins = {"w": {"3": [10, -5]}}
    assert pinned(pins, "w", 3) == (10, -5)
    assert pinned(pins, "w", 4) is None
    assert answer_errors("w", 3, (10, -5), 10, pins) == []
    assert len(answer_errors("w", 3, (11, -5), 11, pins)) == 1   # pin mismatch
    assert len(answer_errors("w", 3, (10, -4), 10, pins)) == 1   # checksum mismatch
    assert len(answer_errors("w", 3, (10, -5), 9, pins)) == 1    # a duplicate row
    assert answer_errors("w", 4, (1, 2), 1, pins) == []          # unpinned seed
