"""CDC-out tail: stream the table's committed change windows
(``changes.stream_changes``, CLI ``changes --follow``)."""
