"""Streaming sources: the WebSocket source (reference parity for
/root/reference/src/wsclient.hpp) exposed as a PySpark Python DataSource."""
