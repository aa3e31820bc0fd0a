"""The crawl reference model the crawl checks compare against."""

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import crawls  # noqa: E402


def web(budget, max_pages):
    # host a: 5 pages (0 -> 1, 2; 1 -> 3, 4), host b: 3 pages (0 -> 1, 2)
    return SimpleNamespace(hosts=["a", "b"], sizes=[5, 3], budget=budget,
                           spec={"max_pages": max_pages, "fanout": 2})


def test_unbound_crawl_is_bfs_by_depth():
    assert crawls.model_waves(web(budget=10, max_pages=100)) == [
        ["http://a/", "http://b/"],
        ["http://a/p1.html", "http://a/p2.html",
         "http://b/p1.html", "http://b/p2.html"],
        ["http://a/p3.html", "http://a/p4.html"],
    ]


def test_host_budget_then_cap():
    # one URL per host per wave; the cap stops the crawl after 5 pages,
    # cutting wave 3 to its first URL in priority order
    assert crawls.model_waves(web(budget=1, max_pages=5)) == [
        ["http://a/", "http://b/"],
        ["http://a/p1.html", "http://b/p1.html"],
        ["http://a/p2.html"],
    ]
