"""get_spark's default shuffle partitions, parsed from the master URL
(no session is started)."""

from osm_spark.session import _task_slots


def test_task_slots_from_master():
    assert _task_slots("local[8]", 5) == 8
    assert _task_slots("local[4,3]", 5) == 4  # local[N, maxFailures]
    assert _task_slots("local[*]", 5) == 5
    assert _task_slots("local", 5) == 5
    # local-cluster[executors, cores each, MB each]: N×C task slots
    assert _task_slots("local-cluster[2,1,1024]", 5) == 2
    assert _task_slots("local-cluster[4,2,2048]", 5) == 8
    assert _task_slots("spark://host:7077", 5) == 5
