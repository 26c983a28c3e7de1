"""Pipelines composed from plain operator calls; ``flagship.py`` is the worked example."""
