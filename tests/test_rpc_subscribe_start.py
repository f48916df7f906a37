"""Start resolution of the RPC ``SubscribeFacts`` handler, against a
stub engine (no Spark): a boolean ``fromEnd`` is read by its value, not
by its presence."""

from factstore_spark.model import StartPosition
from factstore_spark.results import StoreNotFound
from factstore_spark.rpc import FactStoreRpcService


class _StubEngine:
    def __init__(self):
        self.starts = []

    def subscribe(self, store_name, start, **kwargs):
        self.starts.append(start)
        return StoreNotFound(store_name)


def _start_of(request):
    engine = _StubEngine()
    list(FactStoreRpcService(engine)._SubscribeFacts(request))
    (start,) = engine.starts
    return start


def test_from_end_false_subscribes_from_the_beginning():
    assert isinstance(_start_of({"storeName": "s", "fromEnd": False}), StartPosition.Beginning)
    assert isinstance(_start_of({"storeName": "s"}), StartPosition.Beginning)


def test_from_end_true_subscribes_from_the_end():
    assert isinstance(_start_of({"storeName": "s", "fromEnd": True}), StartPosition.End)


def test_after_fact_id_wins_over_a_false_from_end():
    start = _start_of({"storeName": "s", "fromEnd": False, "afterFactId": "f1"})
    assert isinstance(start, StartPosition.After) and start.fact_id == "f1"
