"""Known answers for the Python XXH64 port that the Bloom probes hash
with (storage/bloomindex.py). The values were produced once by Spark's
own ``xxhash64`` (seed 42) and are frozen here, so a broken port fails
without a JVM; ``test_bloom_index.py::
test_driver_hashes_match_executed_xxhash64`` is the live Spark parity
check."""

from factstore_spark.storage.bloomindex import _H2_SALT, _driver_hashes

ALPHA100 = "".join(chr(97 + i % 26) for i in range(100))

# (value, xxhash64(v), xxhash64(v, _H2_SALT)) of a string column
STRINGS = [
    ("", -7444071767201028348, 6622823856396491330),
    ("a", -8582455328737087284, 5182429631753373034),
    ("abc", 1423657621850124518, 7266702348242068280),
    ("abcd", -6810745876291105281, 4865442249278937030),
    ("abcdefg", 3761890393722740389, 1984629228302096393),
    ("abcdefgh", 2470326616177429180, -3741153256875436280),
    ("x" * 31, -1716462135722163746, -8298247175241910901),
    ("y" * 32, 5202031258905353636, -7937300528793319739),
    ("z" * 33, -8411362631970189001, -1362035941588642450),
    (ALPHA100, 7254856939543837532, -7339345111336534159),
    ("é", 2065146811275570100, -8826835436707763564),
    ("中文键", 4250353965149297333, 5283873169202299162),
    ("\U0001f600", -5869505314936196641, -979848341630548105),
]
BIGINTS = [
    (0, -5252525462095825812),
    (-1, 3858142552250413010),
    (2**63 - 1, -3246596055638297850),
    (-(2**63), -8619748838626508300),
]
INTS = [
    (0, 3614696996920510707),
    (-1, 2017008487422258757),
    (2**31 - 1, 1508894993788531228),
    (-(2**31), 2073849959933241805),
]


def test_string_keys_match_spark_on_every_tail_length():
    got = _driver_hashes(None, ["string"], [(s,) for s, _, _ in STRINGS]).tolist()
    assert got == [[h1, h2] for _, h1, h2 in STRINGS]


def test_integral_keys_match_spark_at_the_extremes():
    got = _driver_hashes(None, ["bigint"], [(v,) for v, _ in BIGINTS])[:, 0].tolist()
    assert got == [h for _, h in BIGINTS]
    got = _driver_hashes(None, ["int"], [(v,) for v, _ in INTS])[:, 0].tolist()
    assert got == [h for _, h in INTS]


def test_composite_key_chains_its_parts_and_the_salt():
    """(string, bigint) hashes the string with seed 42 and the bigint
    with the string's hash; h2 then chains the ``_H2_SALT`` string."""
    assert _H2_SALT == "fsbloom-h2"
    got = _driver_hashes(None, ["string", "bigint"], [("order-7", 2**40)]).tolist()
    assert got == [[-599670587736515245, 198558071183128758]]
