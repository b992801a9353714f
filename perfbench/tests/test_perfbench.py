"""Fast checks of the benchmark itself (no Spark): op streams, the tail
percentile rule, span accounting and the oracle, on sf0.001 tables.

    python3 -m pytest perfbench/tests -q
"""

import pytest

from datagen import ensure_store_tables
from measure import MIN_BEYOND, Span, Tracer, percentile, tail
from ops import LOOKUP_CLIENTS, LOOKUP_SHAPES, analytic_stream, lookup_stream


def test_same_seed_same_texts_per_client():
    for client in range(4):
        assert lookup_stream(3, client, 5) == lookup_stream(3, client, 5)
    assert analytic_stream(3) == analytic_stream(3)


def test_other_seed_other_constants():
    assert lookup_stream(3, 0, 5) != lookup_stream(4, 0, 5)
    assert analytic_stream(3)[1] != analytic_stream(4)[1]
    # the shape order is fixed; only the constants move
    shapes = lambda ops: [o.shape for o in ops]
    assert shapes(lookup_stream(3, 0, 5)) == shapes(lookup_stream(4, 0, 5))
    assert shapes(lookup_stream(3, 0, 2)) == list(LOOKUP_SHAPES) * 2


def test_clients_enter_the_round_at_staggered_shapes():
    firsts = [lookup_stream(3, c, 2)[0].shape for c in range(LOOKUP_CLIENTS)]
    assert firsts == ["star", "star_decoded", "describe", "path2"]
    # every client's first seven ops still cover all seven shapes
    for c in range(LOOKUP_CLIENTS):
        assert {o.shape for o in lookup_stream(3, c, 2)[:7]} == set(LOOKUP_SHAPES)


def test_clients_draw_different_constants():
    assert lookup_stream(3, 0, 5) != lookup_stream(3, 1, 5)


def test_warm_up_texts_come_from_their_own_stream():
    assert lookup_stream(3, 0, 1, warm=True) != lookup_stream(3, 0, 1)


def test_decoded_twin_reuses_the_star_constant():
    ops = lookup_stream(5, 0, 3)
    for star, twin in zip(ops[0::7], ops[1::7]):
        assert (star.shape, twin.shape) == ("star", "star_decoded")
        assert star.text == twin.text and twin.decode and not star.decode


def test_analytic_texts_never_repeat_in_a_run():
    warm, measured = analytic_stream(11)
    texts = [o.text for o in warm + measured]
    assert len(texts) == len(set(texts))


def test_percentile_interpolates():
    xs = [float(x) for x in range(1, 101)]
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 90) == pytest.approx(90.1)
    assert percentile([7.0], 90) == 7.0


def test_tail_needs_ten_samples_beyond():
    v, beyond, ok = tail([float(x) for x in range(1, 91)], 90)  # 90 samples
    assert (v, beyond, ok) == (pytest.approx(81.1), 9, False)
    v, beyond, ok = tail([float(x) for x in range(1, 101)], 90)  # 100 samples
    assert (v, beyond, ok) == (pytest.approx(90.1), MIN_BEYOND, True)
    # ties at the percentile do not count as beyond it
    assert tail([1.0] * 200, 90)[1:] == (0, False)


def test_self_time_and_coverage():
    tr = Tracer(sc=None)
    tr.spans = [
        Span("op", 1, 0.0, 10.0, None),
        Span("parse", 1, 0.0, 1.0, "op"),
        Span("run", 1, 1.0, 9.0, "op"),
        Span("run", 1, 8.0, 9.5, "op"),  # overlaps the first run span
        Span("op", 2, 20.0, 22.0, None),
        Span("run", 2, 20.0, 21.0, "op"),
    ]
    self_t = tr.self_times()
    assert self_t["op"] == pytest.approx((10 - 9.5) + (22 - 21))
    assert self_t["parse"] == pytest.approx(1.0)
    assert sorted(tr.coverage()) == pytest.approx([0.5, 0.95])


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    from oracle import SparqlOracle

    data = ensure_store_tables(str(tmp_path_factory.mktemp("data")), sf=0.001)
    orc = SparqlOracle(data)
    yield orc
    orc.close()


STAR = "select ?O ?ST ?PR where { ?O type Order . ?O placedBy <customer:7> . ?O status ?ST . ?O priority ?PR }"


def test_oracle_accepts_its_own_answer_in_any_order(oracle):
    want = oracle.answer(STAR, False)
    assert want, "customer 7 has orders at sf0.001"
    assert oracle.check(STAR, False, list(reversed(want)))


def test_oracle_flags_a_planted_wrong_row(oracle):
    rows = list(oracle.answer(STAR, False))
    o, st, pr = rows[0]
    assert not oracle.check(STAR, False, [(o, st, pr + 1)] + rows[1:])
    assert not oracle.check(STAR, False, rows + [rows[0]])  # a duplicate
    assert not oracle.check(STAR, False, rows[1:])  # a missing row


def test_oracle_resolves_name_literals_through_the_dictionary(oracle):
    rows = oracle.answer("select ?C ?N where { ?C name <Customer#000000007> . ?C inNation ?N }", False)
    assert len(rows) == 1 and rows[0][0] == 100_000_007
    decoded = oracle.answer(STAR, True)
    assert all(isinstance(v, str) for row in decoded for v in row)
