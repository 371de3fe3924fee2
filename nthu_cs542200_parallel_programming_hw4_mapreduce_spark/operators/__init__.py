"""Imperative/physical operators that aren't plain declared queries:
the faithful MapReduce surface (:mod:`.mapreduce`) mirroring hw4.cc's
pluggable map/partition/sort/reduce hooks, and the salted hot-key join
(:mod:`.joins`)."""
